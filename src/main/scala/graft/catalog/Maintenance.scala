package graft.catalog

import graft.meta.RelPaths
import org.apache.spark.sql.SparkSession

/** Table maintenance — the C16 bulk-IO analogs (RelativeFileIO.java
  * deleteFiles/listPrefix/deletePrefix) put to their real use:
  * snapshot expiry (Iceberg's expire_snapshots) and small-file
  * compaction (rewrite_data_files).
  */
object Maintenance {

  /** A `snapshot`-procedure copy references files under ANOTHER
    * table's directory; expiring its lineage could physically delete
    * files the source still needs — Iceberg's `gc.enabled=false`
    * refusal, checked at every expiry entry point. */
  private def requireGcEnabled(meta: graft.meta.TableMeta): Unit =
    require(!meta.properties.get("gc.enabled").contains("false"),
      "gc.enabled=false on this table (a zero-copy `snapshot` of another " +
        "table): snapshot expiry could delete files the source still " +
        "references — drop the table instead, or flip gc.enabled after " +
        "compacting it onto its own files")

  /** Refs that outlived their retention — Iceberg's max-ref-age-ms:
    * a non-main ref whose TARGET snapshot's timestamp is older than
    * the ref's own `maxRefAgeMs` (or the table's
    * `history.expire.max-ref-age-ms` default) is dropped by expiry,
    * unpinning its lineage. Without aging, every forgotten audit
    * branch/tag pins snapshots and files forever. `main` never ages. */
  private def agedOutRefs(meta: graft.meta.TableMeta, now: Long): Set[String] = {
    val tableDefault = meta.properties.get("history.expire.max-ref-age-ms")
      .flatMap(s => scala.util.Try(s.toLong).toOption)
    meta.refs.collect {
      case (name, r) if name != "main" =>
        val maxAge = r.maxRefAgeMs.orElse(tableDefault)
        val born = meta.snapshot(r.snapshotId).map(_.timestampMs)
        // unknown target timestamp -> keep (never age out on a guess)
        if (maxAge.exists(a => born.exists(now - _ > a))) Some(name) else None
    }.flatten.toSet
  }

  /** Drop all but the newest `keepLast` snapshots, then delete data
    * files that no surviving snapshot references. Returns the number
    * of files deleted. Metadata-only commit + physical delete AFTER
    * the commit point, so a crash mid-delete leaves only harmless
    * orphans (never a broken table).
    */
  def expireSnapshots(ops: TableOps, keepLast: Int): Int =
    expire(ops, "expireSnapshots") { meta =>
      // ref-pinned snapshots (surviving tags/branches) are never expired
      val pinned = meta.refs.values.map(_.snapshotId).toSet
      (meta.snapshots.sortBy(_.sequenceNumber).takeRight(keepLast) ++
        meta.snapshots.filter(s => pinned(s.snapshotId))).distinct
    }

  /** The one expiry body behind [[expireSnapshots]] and
    * [[expireOlderThan]], which differ only in `keep`: the snapshots
    * that survive, chosen from the metadata with aged-out refs already
    * dropped. Metadata commit first, physical deletes after. */
  private def expire(ops: TableOps, op: String)(
      keep: graft.meta.TableMeta => List[graft.meta.Snapshot]): Int =
    ops.commitRetrying(op) { (_, meta0) =>
      requireGcEnabled(meta0)
      // aged-out refs drop FIRST so they stop pinning their snapshots
      val meta = meta0.copy(
        refs = meta0.refs -- agedOutRefs(meta0, System.currentTimeMillis()))
      val kept = keep(meta)
      if (kept.size == meta.snapshots.size && meta.refs.size == meta0.refs.size)
        TableOps.Done(0)
      else {
        val keptIds = kept.map(_.snapshotId).toSet
        // expiry decides physical deletion → full lists (chunk cache
        // dedups the shared majority between adjacent snapshots)
        val keptFiles = kept.flatMap(s =>
          ops.allFiles(s).map(_.path) ++ s.deleteFiles.map(_.path)).toSet
        val expired = meta.snapshots.filterNot(s => keptIds(s.snapshotId))
        val orphans = expired
          .flatMap(s => ops.allFiles(s).map(_.path) ++ s.deleteFiles.map(_.path))
          .distinct.filterNot(keptFiles)
        // manifest chunks referenced only by expired snapshots go too,
        // and so do manifest-LIST files (content-addressed stamp sets;
        // shared lists survive because a kept snapshot still names them)
        val keptManifests = kept.flatMap(s =>
          (s.manifests ++ s.deleteManifests).map(_.path) ++ s.manifestList).toSet
        val orphanManifests = expired
          .flatMap(s => (s.manifests ++ s.deleteManifests).map(_.path) ++ s.manifestList)
          .distinct.filterNot(keptManifests)
        TableOps.Commit(meta.copy(
          lastUpdatedMs = System.currentTimeMillis(),
          snapshots = kept,
          snapshotLog = meta.snapshotLog.filter(e => keptIds(e.snapshotId))), _ => {
          (orphans ++ orphanManifests).foreach(p =>
            Io.deleteIfExists(RelPaths.absolutize(ops.warehouse, p)))
          orphans.size
        })
      }
    }

  /** Metadata-only manifest rewrite (Iceberg's rewrite_manifests):
    * materialize the current snapshot's file list, re-sort it by the
    * partition source values, and re-spill value-tight chunks. After
    * trickle appends leave many chunks with overlapping key ranges —
    * where a partition-filtered scan must load most of them — this
    * restores planning to O(matching chunks). Data files untouched;
    * the snapshot keeps its id (same data, same history). Chunk files
    * no longer referenced by any snapshot are reclaimed AFTER the
    * commit point (a crash leaves only harmless orphans). Returns the
    * number of chunks dissolved.
    */
  def rewriteManifests(ops: TableOps): Int =
    ops.commitRetrying("rewriteManifests") { (_, meta) =>
      meta.currentSnapshot.filter(_.manifests.size > 1) match {
        case None => TableOps.Done(0)
        case Some(cur) =>
          val sorted = ops.allFiles(cur).sorted(partitionOrder(ops, meta))
          TableOps.Commit(meta.copy(
            lastUpdatedMs = System.currentTimeMillis(),
            snapshots = meta.snapshots.map(s =>
              if (s.snapshotId == cur.snapshotId) s.copy(files = sorted, manifests = Nil)
              else s)), _ => {
            val live = ops.refresh().map(_._2).toList
              .flatMap(_.snapshots.flatMap(s => s.manifests.map(_.path) ++ s.manifestList))
              .toSet
            (cur.manifests.map(_.path) ++ cur.manifestList).filterNot(live)
              .foreach(p => Io.deleteIfExists(RelPaths.absolutize(ops.warehouse, p)))
            cur.manifests.size
          })
      }
    }

  /** Files ordered by the lower bounds of the partition source
    * columns (unbounded last), then by path. */
  private def partitionOrder(ops: TableOps,
      meta: graft.meta.TableMeta): Ordering[graft.meta.DataFile] = {
    val keyCols = ops.partitionKeyCols(meta).toSeq.sortBy(_._1)
    def cmpVal(num: Boolean, x: String, y: String): Int =
      if (num) scala.util.Try(BigDecimal(x).compare(BigDecimal(y)))
        .getOrElse(x.compareTo(y))
      else x.compareTo(y)
    new Ordering[graft.meta.DataFile] {
      override def compare(a: graft.meta.DataFile, b: graft.meta.DataFile): Int = {
        var i = 0
        while (i < keyCols.size) {
          val (c, num) = keyCols(i)
          val r = (a.minBound.get(c), b.minBound.get(c)) match {
            case (Some(x), Some(y)) => cmpVal(num, x, y)
            case (None, Some(_)) => 1 // unbounded files sort last
            case (Some(_), None) => -1
            case (None, None) => 0
          }
          if (r != 0) return r
          i += 1
        }
        a.path.compareTo(b.path)
      }
    }
  }

  /** Create (or move) a named ref — `tag` pins a snapshot, `branch`
    * tracks it until moved (README.md:67-75 `refs`). Readable through
    * `VERSION AS OF '<name>'`. `maxRefAgeMs` (Iceberg's
    * max-ref-age-ms / SQL `RETAIN`) bounds how long the ref survives
    * expiry once its target snapshot ages — see [[agedOutRefs]].
    */
  def createRef(ops: TableOps, refName: String, refType: String = "tag",
      snapshotId: Option[Long] = None, maxRefAgeMs: Option[Long] = None): Unit =
    ops.commitRetrying("createRef") { (_, meta) =>
      val sid = snapshotId.orElse(meta.currentSnapshotId)
        .getOrElse(throw new IllegalStateException("table has no snapshot"))
      require(meta.snapshot(sid).isDefined, s"unknown snapshot $sid")
      TableOps.Commit(meta.copy(
        lastUpdatedMs = System.currentTimeMillis(),
        // moving an existing ref PRESERVES its retention unless a
        // new value is passed (clearing = drop_ref + create_ref)
        refs = meta.refs + (refName -> graft.meta.Ref(sid, refType,
          maxRefAgeMs.orElse(meta.refs.get(refName).flatMap(_.maxRefAgeMs))))))
    }

  /** Drop a named ref (branch or tag). Snapshots it pinned become
    * expirable on the next retention pass — nothing is deleted here
    * (Iceberg `remove_ref` semantics). `main` is not droppable.
    */
  def dropRef(ops: TableOps, refName: String): Unit = {
    require(refName != "main", "cannot drop the main branch")
    ops.commitRetrying("dropRef") { (_, meta) =>
      require(meta.refs.contains(refName), s"no ref $refName")
      TableOps.Commit(meta.copy(
        lastUpdatedMs = System.currentTimeMillis(),
        refs = meta.refs - refName))
    }
  }

  /** Write-audit-publish: append `df` to a named BRANCH — `main` (and
    * every reader not asking for the branch) is untouched until
    * [[fastForward]] publishes it.
    */
  def appendToBranch(table: GraftTable, df: org.apache.spark.sql.DataFrame,
      branch: String): Unit =
    Writer.append(table, df, overwrite = false, branch = Some(branch))

  /** Publish a branch: point `main` (the current snapshot) at the
    * branch head.
    */
  def fastForward(ops: TableOps, branch: String): Unit =
    ops.commitRetrying("fastForward") { (_, meta) =>
      val head = meta.refs.getOrElse(branch,
        throw new IllegalArgumentException(s"no branch $branch")).snapshotId
      TableOps.Commit(setCurrent(meta, head))
    }

  /** `meta` with `main` and the current pointer moved to `snapshotId`. */
  private def setCurrent(meta: graft.meta.TableMeta, snapshotId: Long): graft.meta.TableMeta = {
    val now = System.currentTimeMillis()
    meta.copy(
      lastUpdatedMs = now,
      currentSnapshotId = Some(snapshotId),
      snapshotLog = meta.snapshotLog :+ graft.meta.SnapshotLogEntry(now, snapshotId),
      refs = meta.refs + graft.meta.Ref.moved(meta.refs, "main", snapshotId))
  }

  /** Roll the table back to a previous (still-retained) snapshot —
    * Iceberg's `rollback_to_snapshot`. Metadata-only: the current
    * pointer and `main` move, nothing is rewritten or deleted, and the
    * rolled-back-over snapshots stay readable by id until expiry. The
    * target may be any retained snapshot (also covers Iceberg's
    * `set_current_snapshot`).
    */
  def rollbackTo(ops: TableOps, snapshotId: Long): Unit =
    ops.commitRetrying("rollbackTo") { (_, meta) =>
      require(meta.snapshot(snapshotId).isDefined,
        s"unknown or expired snapshot $snapshotId")
      TableOps.Commit(setCurrent(meta, snapshotId))
    }

  /** Cherry-pick an APPEND snapshot onto the current state — Iceberg's
    * `cherrypick_snapshot`, the second half of write-audit-publish
    * when the audited branch has diverged from `main` (fast-forward
    * only works when `main` hasn't moved). The picked snapshot's added
    * files are re-committed as a fresh append on the CURRENT base:
    * metadata-only (no data bytes move), O(added files), and the
    * files are re-stamped with the new commit's sequence number so
    * equality-delete scoping stays correct (they are logically new
    * data at pick time). Non-append snapshots (overwrite/delete/
    * replace) have no position-independent row interpretation on a
    * moved base and are rejected.
    */
  def cherryPick(table: GraftTable, snapshotId: Long,
      extraSummary: Map[String, String] = Map.empty): Unit = {
    // Work from a fresh refresh, not the possibly stale table.meta —
    // and re-verify inside the OCC loop (metaTransform runs per
    // attempt on the refreshed base) so a racing commit that lands the
    // same files (second cherry-pick, fast-forward) can't double-apply.
    val meta = table.ops.refresh()
      .map(_._2).getOrElse(throw new IllegalStateException("no such table"))
    val src = meta.snapshot(snapshotId).getOrElse(
      throw new IllegalArgumentException(s"unknown snapshot $snapshotId"))
    require(src.operation == "append",
      s"only append snapshots can be cherry-picked; $snapshotId is '${src.operation}'")
    val parentPaths = src.parentId.flatMap(meta.snapshot)
      .map(s => table.ops.allFiles(s).map(_.path).toSet).getOrElse(Set.empty)
    val added = table.ops.allFiles(src).filterNot(f => parentPaths(f.path))
    val addedPaths = added.map(_.path).toSet
    Writer.commitSnapshot(table, added.map(_.copy(seq = None)),
      overwrite = false, operation = "append", carryover = Nil,
      extraSummary = Map("cherry-picked-snapshot-id" -> snapshotId.toString) ++
        extraSummary,
      metaTransform = { base =>
        val current = base.currentSnapshot
          .map(s => table.ops.allFiles(s).map(_.path).toSet)
          .getOrElse(Set.empty)
        val dup = addedPaths.intersect(current)
        if (dup.nonEmpty) throw new CommitConflictException(
          s"snapshot $snapshotId is already applied to the current state " +
          s"(${dup.size} of its files present, e.g. ${dup.head})")
        base
      })
  }

  /** Publish the snapshot STAGED under `wapId` — Iceberg's
    * `publish_changes`, the id-keyed half of write-audit-publish:
    * writes made with `spark.wap.id` set (on a `write.wap.enabled`
    * table) commit staged — in the snapshot set, auditable via
    * `VERSION AS OF`, invisible to every table/stream/$changes reader
    * — until this call moves the table onto them. Publishing is
    *  - a metadata-only set-current when main hasn't moved since the
    *    stage (parent == current): ANY staged operation (append,
    *    overwrite, delete, merge) publishes this way, because the
    *    staged snapshot was computed against exactly this base;
    *  - a cherry-pick re-append when main HAS moved — append snapshots
    *    only (a staged overwrite/delete has no position-independent
    *    interpretation on a moved base: refused, like Iceberg).
    * A wap id already on main lineage (as `wap.id` or
    * `published-wap-id`) is refused — publish is exactly-once.
    * Returns the snapshot id the table lands on.
    */
  def publishChanges(table: GraftTable, wapId: String): Long =
    table.ops.commitRetrying("publishChanges") { (_, meta) =>
      val lineage = meta.mainLineage
      require(!lineage.exists(s => s.summary.get("wap.id").contains(wapId) ||
          s.summary.get("published-wap-id").contains(wapId)),
        s"wap.id '$wapId' is already published")
      val staged = meta.snapshots.filter(_.summary.get("wap.id").contains(wapId))
      require(staged.nonEmpty, s"no snapshot staged with wap.id '$wapId'")
      require(staged.size == 1,
        s"wap.id '$wapId' is ambiguous: ${staged.size} staged snapshots carry it")
      val s = staged.head
      // a lost commit re-evaluates on the refreshed base: main may have
      // moved mid-publish, switching to the cherry-pick path
      if (s.parentId == meta.currentSnapshotId)
        TableOps.Commit(setCurrent(meta, s.snapshotId), _ => s.snapshotId)
      else {
        require(s.operation == "append",
          s"staged snapshot ${s.snapshotId} is '${s.operation}' and main has " +
            "moved since the stage; only append snapshots can be published " +
            "onto a moved base")
        cherryPick(table, s.snapshotId,
          extraSummary = Map("published-wap-id" -> wapId))
        TableOps.Done(table.ops.refresh().flatMap(_._2.currentSnapshotId)
          .getOrElse(s.snapshotId))
      }
    }

  /** Compute table-level statistics (ref README.md:99-100 `statistics`
    * slot) for the CURRENT snapshot and commit them into the metadata:
    * exact row/byte totals and null counts, approximate NDV
    * (approx_count_distinct = HLL++ sketch — one pass, no extra
    * shuffle; exact distinct at 100 TB would shuffle every column).
    * Readable via `<table>$stats`.
    */
  def computeStats(spark: SparkSession, table: GraftTable): Unit = {
    import org.apache.spark.sql.functions._
    val snap = table.readSnapshot
    val files = snap.map(table.ops.allFiles).getOrElse(Nil)
    val deleteFiles = snap.map(_.deleteFiles).getOrElse(Nil)
    val snapId = snap.map(_.snapshotId).getOrElse(return)
    val schema = graft.meta.TableMeta.schemaToSpark(table.meta.schema)
    val wh = table.ops.warehouse
    val cols = schema.fieldNames.toSeq
    val stats: graft.meta.TableStats =
      if (files.isEmpty)
        graft.meta.TableStats(snapId, 0L, 0L, cols.map(_ -> graft.meta.ColumnStats(0L, 0L)).toMap)
      else {
        val df = Mor.applyDeletes(spark,
          Mor.readData(spark, wh, schema, files, table.meta.nameMapping,
            if (deleteFiles.nonEmpty) Mor.withPositions(_, wh) else identity),
          wh, deleteFiles, files)
          .select(schema.fieldNames.map(col).toIndexedSeq: _*)
        val aggs = count(lit(1)).as("__n") +:
          cols.flatMap(c => Seq(
            approx_count_distinct(col(c)).as(s"__ndv_$c"),
            count(when(col(c).isNull, 1)).as(s"__nulls_$c")))
        val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
        graft.meta.TableStats(
          snapshotId = snapId,
          totalRecords = row.getAs[Long]("__n"),
          totalBytes = files.map(_.bytes).sum,
          columns = cols.map(c => c -> graft.meta.ColumnStats(
            row.getAs[Long](s"__ndv_$c"), row.getAs[Long](s"__nulls_$c"))).toMap,
          partitions = partitionStats(spark, table, files, deleteFiles))
      }
    table.ops.commitRetrying("computeStats") { (_, meta) =>
      TableOps.Commit(meta.copy(
        lastUpdatedMs = System.currentTimeMillis(),
        statistics = Some(stats)))
    }
  }

  /** Per-partition record/byte/file rollup (ref README.md:99-100
    * `partition-statistics`). One pass grouped by (data file,
    * partition-transform exprs) — the same transforms the writer
    * clusters by — with MOR deletes subtracted, so record counts are
    * EXACT per live partition. Bytes are attributed from each file by
    * its row share in the partition: exact when files are
    * partition-local (the normal case), proportional otherwise. The
    * grouped result is O(files × partitions-per-file) — metadata-sized.
    */
  def partitionStats(spark: SparkSession, table: GraftTable,
      files: Seq[graft.meta.DataFile],
      deleteFiles: Seq[graft.meta.DataFile]): List[graft.meta.PartitionStats] = {
    import org.apache.spark.sql.functions._
    val pexprs = Writer.specTransformExprs(table.meta)
    if (pexprs.isEmpty || files.isEmpty) return Nil
    val wh = table.ops.warehouse
    val schema = graft.meta.TableMeta.schemaToSpark(table.meta.schema)
    val raw = Mor.readData(spark, wh, schema, files, table.meta.nameMapping,
      Mor.withPositions(_, wh))
    val annotated = raw
    val (eq, pos) = deleteFiles.partition(Mor.isEquality)
    val alive0 = Mor.subtract(spark, annotated, wh, pos)
    val alive = if (eq.isEmpty) alive0
      else Mor.subtractEquality(spark, alive0, wh, eq, files)
    val pnames = pexprs.map(_._1)
    val perFile = alive
      .groupBy((col("__gf") +: pexprs.map { case (n, e) => e.as(n) }): _*)
      .agg(count(lit(1)).as("__n")).collect()
    val liveRowsByFile = perFile.groupBy(_.getString(0))
      .map { case (f, rs) => f -> rs.map(_.getAs[Long]("__n")).sum }
    val bytesByFile = files.map(f => f.path -> f.bytes).toMap
    perFile.toList.groupBy(r => pnames.zipWithIndex.map { case (n, i) =>
        n -> Option(r.get(i + 1)).map(_.toString).orNull }.toMap)
      .map { case (part, rows) =>
        val bytes = rows.map { r =>
          val f = r.getString(0)
          val share = r.getAs[Long]("__n").toDouble / liveRowsByFile(f).max(1L)
          bytesByFile.getOrElse(f, 0L) * share
        }.sum.toLong
        graft.meta.PartitionStats(
          partition = part,
          records = rows.map(_.getAs[Long]("__n")).sum,
          bytes = bytes,
          files = rows.map(_.getString(0)).distinct.size.toLong)
      }
      .toList.sortBy(_.partition.toSeq.sorted.mkString("/"))
  }

  /** Rewrite the current snapshot into `targetFiles` files (an
    * `overwrite` snapshot — old files stay readable for time travel
    * until expireSnapshots reclaims them). Position deletes are APPLIED
    * by the rewrite and cleared from the new snapshot — compaction is
    * the copy-on-write settlement path for merge-on-read deletes.
    */
  def compact(spark: SparkSession, table: GraftTable, targetFiles: Int = 1): Unit = {
    val snap = table.readSnapshot
    val files = snap.map(table.ops.allFiles).getOrElse(Nil)
    if (files.isEmpty) return
    val dels = snap.map(_.deleteFiles).getOrElse(Nil)
    val sch = graft.meta.TableMeta.schemaToSpark(table.meta.schema)
    val df = Mor.applyDeletes(spark,
        Mor.readData(spark, table.ops.warehouse, sch, files, table.meta.nameMapping,
          if (dels.nonEmpty) Mor.withPositions(_, table.ops.warehouse) else identity),
        table.ops.warehouse, dels, files)
      .select(sch.fieldNames.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      .coalesce(targetFiles)
    // "replace": same rows, different bytes — the marker the changelog
    // and the streaming tail both use to emit nothing for this commit
    Writer.append(table, df, overwrite = true, operation = "replace",
      validateFrom = Some(snap.map(_.snapshotId)),
      clearDeletes = true)
  }

  /** Bin-pack small-file compaction (Iceberg's `rewrite_data_files`
    * binpack strategy): only files smaller than half the target size
    * are read back — grouped to ~`targetSizeBytes` outputs — while
    * right-sized files carry over UNTOUCHED. O(small files), not
    * O(table): the realistic maintenance pass for a 100 TB table that
    * accumulates trickle-append debris. All live deletes are applied
    * to the rewritten subset (a rewritten row must not escape a
    * pending delete via its new (file,pos) identity); delete files
    * stay committed for the carried-over files — entries referencing
    * rewritten paths become inert and are reclaimed by a full
    * [[compact]]. Returns the number of files rewritten.
    */
  def compactBinpack(spark: SparkSession, table: GraftTable,
      targetSizeBytes: Long, minInputFiles: Int = 2): Int = {
    val snap = table.readSnapshot
    val files = snap.map(table.ops.allFiles).getOrElse(Nil)
    val deletes = snap.map(_.deleteFiles).getOrElse(Nil)
    val small = files.filter(_.bytes < targetSizeBytes / 2)
    if (small.size < minInputFiles) return 0
    val smallPaths = small.map(_.path).toSet
    val untouched = files.filterNot(f => smallPaths(f.path))
    val groups = math.max(1,
      math.ceil(small.map(_.bytes).sum.toDouble / targetSizeBytes).toInt)
    val sch = graft.meta.TableMeta.schemaToSpark(table.meta.schema)
    val df = Mor.applyDeletes(spark,
        Mor.readData(spark, table.ops.warehouse, sch, small, table.meta.nameMapping,
          if (deletes.nonEmpty) Mor.withPositions(_, table.ops.warehouse) else identity),
        table.ops.warehouse, deletes, small)
      .select(sch.fieldNames.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      .coalesce(groups)
    Writer.append(table, df, overwrite = true, operation = "replace",
      carryover = untouched,
      validateFrom = Some(snap.map(_.snapshotId)))
    small.size
  }

  /** Consolidate POSITION delete files (Iceberg's
    * `rewrite_position_deletes`): a trickle-deleted 100 TB table
    * accumulates one small delete file per DELETE commit, and every
    * scan pays an open-per-file toll on the delete set even after
    * pruning. This pass reads ONLY the delete rows — never a data
    * file — dedups repeated (file,pos) tombstones, range-clusters
    * them by the data file they reference (each output again covers a
    * tight, disjoint `file_path` range — the unit scan-side delete
    * pruning works at), and commits the consolidated set in place of
    * the old one. Data files and EQUALITY deletes (whose
    * sequence-number strictness must not be restamped) carry over
    * untouched; operation `replace` keeps the changelog silent.
    * Returns the number of delete files consolidated.
    */
  def rewritePositionDeletes(spark: SparkSession, table: GraftTable,
      targetFiles: Int = 1, minInputFiles: Int = 2): Int = {
    import org.apache.spark.sql.functions.col
    val snap = table.readSnapshot
    val deletes = snap.map(_.deleteFiles).getOrElse(Nil)
    val (eq, pos) = deletes.partition(Mor.isEquality)
    if (pos.size < minInputFiles) return 0
    val paths = pos.map(f => RelPaths.absolutize(table.ops.warehouse, f.path))
    val stagingRel = s"${table.meta.location}/deletes/${java.util.UUID.randomUUID()}"
    val stagingAbs = RelPaths.absolutize(table.ops.warehouse, stagingRel)
    spark.read.schema(Mor.deleteSchema).parquet(paths: _*)
      .distinct()
      .repartitionByRange(math.max(1, targetFiles), col("file_path"))
      .sortWithinPartitions(col("file_path"), col("pos"))
      .write.mode("errorifexists").option("compression", "zstd").parquet(stagingAbs)
    val consolidated = Writer.collectStats(spark, Mor.deleteSchema,
        table.ops.warehouse, stagingAbs, exactBoundCols = Set("file_path"))
      .filter(_.records > 0)
    try Writer.commitSnapshot(table, Nil, overwrite = true,
      operation = "replace",
      carryover = snap.map(table.ops.allFiles).getOrElse(Nil),
      validateFrom = Some(snap.map(_.snapshotId)),
      newDeletes = eq.toList ++ consolidated,
      clearDeletes = true)
    catch {
      case e: Throwable =>
        Io.deleteRecursiveQuietly(stagingAbs)
        throw e
    }
    pos.size
  }

  /** Integrity check for the CURRENT snapshot: every referenced data,
    * delete, and manifest file must exist, and each data file's
    * parquet footer row count must match its metadata entry. Returns
    * the problems found (empty = healthy). Metadata-sized driver work
    * plus one footer read per file — the "did that restore/relocation
    * actually work" tool, runnable before pointing production at a
    * moved warehouse.
    */
  def verifyIntegrity(ops: TableOps): List[String] = {
    val (_, meta) = ops.refresh()
      .getOrElse(throw new IllegalStateException("no such table"))
    val problems = scala.collection.mutable.ListBuffer.empty[String]
    val snap = meta.currentSnapshot.getOrElse(return Nil)
    (snap.manifests ++ snap.deleteManifests).foreach { m =>
      if (!Io.exists(RelPaths.absolutize(ops.warehouse, m.path)))
        problems += s"missing manifest ${m.path}"
    }
    // the manifest-LIST file must exist ON DISK: parse may have served
    // the stamps from the process-wide cache, which would mask a
    // deleted list from this checker while breaking the next cold reader
    snap.manifestList.foreach { p =>
      if (!Io.exists(RelPaths.absolutize(ops.warehouse, p)))
        problems += s"missing manifest list $p"
    }
    (ops.allFiles(snap) ++ snap.deleteFiles).foreach { f =>
      val abs = RelPaths.absolutize(ops.warehouse, f.path)
      if (!Io.exists(abs)) problems += s"missing file ${f.path}"
      else {
        val actual = scala.util.Try {
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(abs),
              Io.hadoopConf()))
          try reader.getRecordCount finally reader.close()
        }
        actual match {
          case scala.util.Success(n) if n != f.records =>
            problems += s"record-count mismatch in ${f.path}: metadata=${f.records} footer=$n"
          case scala.util.Failure(e) =>
            problems += s"unreadable footer in ${f.path}: ${e.getMessage}"
          case _ =>
        }
      }
    }
    problems.toList
  }

  /** Age-based retention: expire every snapshot OLDER than
    * `olderThanMs` except the current one and ref-pinned ones (the
    * production retention policy shape — "keep 7 days"; count-based
    * `expireSnapshots(keepLast)` stays for exact-count tests). Same
    * crash-safety order: metadata commit first, physical deletes
    * after. */
  def expireOlderThan(ops: TableOps, olderThanMs: Long): Int =
    expire(ops, "expireOlderThan") { meta =>
      val pinned = meta.refs.values.map(_.snapshotId).toSet ++ meta.currentSnapshotId
      meta.snapshots.filter(s => s.timestampMs >= olderThanMs || pinned(s.snapshotId))
    }

  /** Orphan-file VACUUM: delete files under the table's data/deletes
    * directories that NO snapshot references (debris from crashed
    * writes or conflicted commits whose cleanup lost a race). Age
    * guard (`olderThanMs`) keeps in-flight staging directories safe —
    * a writer that staged files but hasn't committed yet is younger
    * than any sane cutoff. Returns deleted count.
    */
  def removeOrphanFiles(ops: TableOps, olderThanMs: Long): Int = {
    import scala.jdk.CollectionConverters._
    val (_, meta) = ops.refresh()
      .getOrElse(throw new IllegalStateException("no such table"))
    val referenced = meta.snapshots
      .flatMap(s => ops.allFiles(s).map(_.path) ++ s.deleteFiles.map(_.path)).toSet
    val tableAbs = RelPaths.absolutize(ops.warehouse, meta.location)
    var removed = 0
    for (sub <- Seq("data", "deletes")) {
      Io.walkFiles(s"$tableAbs/$sub")
        .filter(_.endsWith(".parquet"))
        .filter(p => scala.util.Try(Io.mtimeMs(p)).getOrElse(Long.MaxValue) < olderThanMs)
        .filterNot(p => referenced(RelPaths.relativize(ops.warehouse, p)))
        .foreach { p => Io.deleteIfExists(p); removed += 1 }
    }
    // manifest-LIST files a lost commit left behind before any snapshot
    // ever referenced them (lose-cleanup deliberately skips them — see
    // TableOps.spillStampList) are invisible to expiry, so the vacuum
    // sweeps them here: age-guarded like data debris (an in-flight
    // commit's freshly written list is younger than the cutoff) and
    // never touching a list any current snapshot names
    val referencedLists = meta.snapshots.flatMap(_.manifestList).toSet
    Io.walkFiles(s"$tableAbs/metadata")
      .filter(p => p.substring(p.lastIndexOf('/') + 1).startsWith("manifest-list-"))
      .filter(p => scala.util.Try(Io.mtimeMs(p)).getOrElse(Long.MaxValue) < olderThanMs)
      .filterNot(p => referencedLists(RelPaths.relativize(ops.warehouse, p)))
      .foreach { p => Io.deleteIfExists(p); removed += 1 }
    removed
  }

  /** PARTITION SPEC EVOLUTION (ref README.md:52-57, spec list keyed by
    * spec-id): install a NEW default partition spec without touching a
    * byte of data — old files keep their layout (scans prune them by
    * min/max bounds regardless of spec), new writes cluster and fan
    * out by the new transforms. The spec-dependent optimizations
    * degrade gracefully on mixed tables: runtime group filtering and
    * storage-partitioned joins both require per-file value-uniformity
    * proofs, which old-layout files simply fail — so they fall back,
    * never corrupt. A later full compaction rewrites everything into
    * the new layout and the proofs hold again.
    *
    * `transforms`: (source column, "identity" | "days" | "bucket[N]").
    */
  def updateSpec(table: GraftTable,
      transforms: Seq[(String, String)]): Unit =
    table.ops.commitRetrying("updateSpec") { (_, meta) =>
      val byName = meta.schema.fields.map(f => f.name -> f.id).toMap
      val newSpecId = meta.partitionSpecs.map(_.specId).max + 1
      var nextFieldId = meta.lastPartitionId
      val fields = transforms.toList.map { case (colName, t) =>
        val srcId = byName.getOrElse(colName,
          throw new IllegalArgumentException(s"unknown partition column $colName"))
        // reuse the field id when the same (source, transform) existed
        // in ANY prior spec (identity continuity across evolution)
        val existing = meta.partitionSpecs.flatMap(_.fields)
          .find(pf => pf.sourceId == srcId && pf.transform == t)
        existing.getOrElse {
          nextFieldId += 1
          graft.meta.PartField(srcId, nextFieldId,
            RelativeCatalog.partitionFieldName(colName, t), t)
        }
      }
      TableOps.Commit(meta.copy(
        lastUpdatedMs = System.currentTimeMillis(),
        defaultSpecId = newSpecId,
        partitionSpecs = meta.partitionSpecs :+ graft.meta.PartSpec(newSpecId, fields),
        lastPartitionId = nextFieldId))
    }

  /** Z-ORDER compaction: rewrite the table range-partitioned and
    * sorted by the Morton interleave of `cols`
    * ([[graft.functions.ZOrder]]), so every output file's min/max
    * bounds are tight on ALL the z-columns — after one pass, scans
    * filtering on ANY of them skip files (the multi-dimensional
    * clustering answer when a table is queried along several axes).
    * For unpartitioned tables the z-key drives file boundaries
    * directly; range partitioning into `targetFiles` buckets keeps
    * each task's output a contiguous z-range.
    */
  def compactZOrder(spark: SparkSession, table: GraftTable,
      cols: Seq[String], targetFiles: Int = 16): Unit = {
    require(table.meta.spec.fields.isEmpty,
      "z-order compaction currently targets unpartitioned tables " +
        "(partitioned tables cluster by their spec; z-order within " +
        "partitions would need a per-partition range)")
    val snap = table.readSnapshot
    val files = snap.map(table.ops.allFiles).getOrElse(Nil)
    if (files.isEmpty) return
    val dels = snap.map(_.deleteFiles).getOrElse(Nil)
    val sch = graft.meta.TableMeta.schemaToSpark(table.meta.schema)
    val data = Mor.applyDeletes(spark,
      Mor.readData(spark, table.ops.warehouse, sch, files, table.meta.nameMapping,
        if (dels.nonEmpty) Mor.withPositions(_, table.ops.warehouse) else identity),
      table.ops.warehouse, dels, files)
      .select(sch.fieldNames.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
    val z = graft.functions.ZOrder.zValue(data, cols)
    val arranged = data.withColumn("__z", z)
      .repartitionByRange(targetFiles, org.apache.spark.sql.functions.col("__z"))
      .sortWithinPartitions(org.apache.spark.sql.functions.col("__z"))
      .drop("__z")
    // Writer.append preserves the arrangement for unpartitioned tables
    // (no spec clustering, and the projection is narrow)
    Writer.append(table, arranged, overwrite = true, operation = "replace",
      validateFrom = Some(snap.map(_.snapshotId)),
      clearDeletes = true)
  }

  /** Roll back to the snapshot that was CURRENT at `tsMs` — Iceberg's
    * `rollback_to_timestamp`. Resolved through the snapshot LOG (the
    * history of what `main` pointed at, including past rollbacks), not
    * the snapshots' own commit times: "what did readers see at 9am"
    * is a question about the pointer, not about when data was written.
    * The logged snapshot must still be retained. Returns the id rolled
    * back to.
    */
  def rollbackToTimestamp(ops: TableOps, tsMs: Long): Long = {
    val meta = ops.refresh().map(_._2)
      .getOrElse(throw new IllegalStateException("no such table"))
    val target = meta.snapshotLog.filter(_.timestampMs <= tsMs).lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot in the log at or before $tsMs " +
          s"(earliest: ${meta.snapshotLog.headOption.map(_.timestampMs)})"))
    require(meta.snapshot(target.snapshotId).isDefined,
      s"snapshot ${target.snapshotId} (current at $tsMs) has been expired")
    rollbackTo(ops, target.snapshotId)
    target.snapshotId
  }

  /** The ancestor chain of a snapshot (Iceberg's `ancestors_of`):
    * the snapshot itself, then parent links walked to the root or to
    * the first expired ancestor. Newest first. Metadata-only — the
    * chain is bounded by retained-snapshot count, never file count.
    */
  /** A hive-partitioned layout (k=v directories) keeps partition
    * VALUES in directory names, not parquet footers: a footer-driven
    * import would read those columns as all-NULL with matching row
    * counts — invisible corruption. Refused loudly at both import
    * entry points (add_files and migrate); such data needs the
    * partition columns materialized into the files first. */
  def requireNoHiveLayout(absDir: String): Unit = {
    require(Io.exists(absDir), s"source dir not found: $absDir")
    val hiveDirs = Io.walkFiles(absDir).map(_.stripPrefix(absDir))
      .flatMap(_.split('/').filter(seg =>
        seg.nonEmpty && !seg.endsWith(".parquet") && seg.contains('=')))
      .distinct
    require(hiveDirs.isEmpty,
      s"source dir uses a hive-partitioned layout (${hiveDirs.take(3).mkString(", ")}): " +
        "partition values live in directory names, not parquet footers — " +
        "rewrite the files with the partition columns included, then " +
        "migrate or add_files")
  }

  def ancestorsOf(ops: TableOps, snapshotId: Option[Long] = None): Seq[graft.meta.Snapshot] = {
    val meta = ops.refresh().map(_._2)
      .getOrElse(throw new IllegalStateException("no such table"))
    val start = snapshotId.orElse(meta.currentSnapshotId)
    snapshotId.foreach(id => require(meta.snapshot(id).isDefined,
      s"unknown or expired snapshot $id"))
    meta.lineageFrom(start)
  }

  /** Import EXISTING parquet files into the table as one append commit
    * without rewriting a byte — Iceberg's `add_files`, the bulk-onboard
    * path for data produced outside the catalog. Metadata-only and
    * footer-driven: row counts, sizes, and column bounds come from
    * parquet footers ([[Writer.collectStats]], parallel, O(files)); the
    * data itself is never scanned. Files must already live INSIDE the
    * warehouse (the relative-path invariant is the whole catalog
    * design — an absolute reference would break warehouse relocation),
    * and for identity-partitioned tables each file must be
    * partition-clustered (footer min == max on every partition column —
    * exactly what any partitioned writer produces); a file spanning
    * partition values is rejected loudly rather than imported with
    * wrong pruning metadata. Returns the number of files added.
    */
  def addFiles(spark: SparkSession, table: GraftTable, sourceDir: String): Int = {
    val ops = table.ops
    require(!sourceDir.startsWith("/") && !sourceDir.contains(":/"),
      s"source dir must be warehouse-relative: $sourceDir")
    // '..' would import files whose stored relative paths escape the
    // warehouse root — readable today, dangling after the relocation
    // (`mv` the warehouse) the relative-path format exists to allow
    require(!sourceDir.split('/').contains(".."),
      s"source dir must not contain '..' segments: $sourceDir")
    requireNoHiveLayout(RelPaths.absolutize(ops.warehouse, sourceDir))
    val meta = ops.refresh().map(_._2)
      .getOrElse(throw new IllegalStateException("no such table"))
    val spec = meta.spec
    val nonIdentity = spec.fields.filterNot(_.transform == "identity")
    require(nonIdentity.isEmpty,
      s"add_files supports unpartitioned and identity-partitioned tables; " +
        s"spec has ${nonIdentity.map(f => s"${f.name}:${f.transform}").mkString(", ")} " +
        "(derived partition values can't be recovered from column bounds)")
    val abs = RelPaths.absolutize(ops.warehouse, sourceDir)
    require(Io.exists(abs), s"source dir not found: $sourceDir")
    // imported files resolve by NAME through the table's name mapping
    // (they carry no field ids we can trust — a foreign writer's ids
    // bind to ITS schema, not ours), so the mapping must still agree
    // with the current column names; a mapping frozen under pre-rename
    // names would silently mis-bind files imported NOW
    val existing = meta.nameMapping
    if (existing.nonEmpty) {
      val clash = meta.schema.fields.filter(f => existing.get(f.id).exists(_ != f.name))
      require(clash.isEmpty,
        s"name mapping was frozen under different column names " +
          s"(${clash.map(f => s"${existing(f.id)} -> ${f.name}").mkString(", ")}); " +
          "files imported now would resolve through the old names")
    }
    val schema = graft.meta.TableMeta.schemaToSpark(meta.schema)
    // the read path resolves imported files by name, so the bound
    // collector gets the id-LESS spelling (its footer path only uses
    // names; this keeps the scan fallback consistent too)
    val schemaNoIds = org.apache.spark.sql.types.StructType(
      schema.fields.map(_.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
    val stats = Writer.collectStats(spark, schemaNoIds, ops.warehouse, abs)
    require(stats.nonEmpty, s"no parquet files under $sourceDir")
    // a file sharing NO column name with the table would import as
    // all-NULL rows — catch it loudly (bounds/nullCount keys exist
    // only for name-matched columns; an all-null-yet-matching file
    // legitimately has nullCount entries)
    val blind = stats.filter(f =>
      f.minBound.isEmpty && f.maxBound.isEmpty && f.nullCount.isEmpty)
    require(blind.isEmpty,
      s"${blind.size} file(s) share no column with the table schema, e.g. ${blind.head.path}")
    // double-import guard: a file the current snapshot already
    // references would double-count on every scan
    val current = meta.currentSnapshot
      .map(s => ops.allFiles(s).map(_.path).toSet).getOrElse(Set.empty)
    val dup = stats.map(_.path).filter(current)
    require(dup.isEmpty,
      s"${dup.size} file(s) already referenced by the current snapshot, e.g. ${dup.head}")
    val withPart = stats.map { f =>
      val pvals = spec.fields.map { pf =>
        (f.minBound.get(pf.name), f.maxBound.get(pf.name)) match {
          case (Some(mn), Some(mx)) if mn == mx => pf.name -> mn
          case (mn, mx) => throw new IllegalArgumentException(
            s"file ${f.path} is not clustered on partition column '${pf.name}' " +
              s"(footer bounds min=$mn max=$mx); split it by partition before add_files")
        }
      }.toMap
      f.copy(partition = pvals, nameMapped = Some(true))
    }
    Writer.commitSnapshot(table, withPart, overwrite = false,
      operation = "append", carryover = Nil,
      extraSummary = Map(
        "added-files" -> stats.size.toString,
        "added-files-source" -> sourceDir),
      // freeze the fallback name mapping in the SAME commit the first
      // import lands (id -> import-time name): later renames stay
      // metadata-only for imported files too
      metaTransform = { base =>
        if (base.properties.contains(graft.meta.TableMeta.NameMappingKey)) base
        else base.copy(properties = base.properties +
          (graft.meta.TableMeta.NameMappingKey ->
            graft.meta.TableMeta.nameMappingToJson(base.schema)))
      })
    stats.size
  }
}
