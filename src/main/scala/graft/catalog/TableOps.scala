package graft.catalog

import graft.meta.{DataFile, Manifest, RelPaths, Snapshot, TableMeta}
import scala.util.Try

class CommitFailedException(msg: String) extends RuntimeException(msg)

/** A concurrent commit changed files an in-flight row-level operation
  * (DELETE/UPDATE/MERGE/compact) had read — retrying would lose its
  * update, so the operation must fail (Iceberg validation semantics).
  * Deliberately NOT a [[CommitFailedException]]: the OCC retry loop
  * must not swallow it.
  */
class CommitConflictException(msg: String) extends RuntimeException(msg)

/** Metadata refresh / OCC commit / crash recovery for one table —
  * the Spark-native analog of the reference's table operations
  * (HadoopRelativeTableOperations.java):
  *
  *  - versioned metadata chain `metadata/v<N>.metadata.json` plus a
  *    best-effort `version-hint.text` (ref :253-263, :278-281)
  *  - refresh: read hint, forward-scan to the newest version, parse,
  *    UUID continuity check (ref :96-141, checkUUID :79-85)
  *  - findVersion crash recovery: if the hint is corrupt/missing, scan
  *    `v*.metadata.json` and take the max that parses (ref :302-337)
  *
  * Every metadata change takes ONE commit path, in three layers (the
  * shape of Iceberg's BaseMetastoreTableOperations):
  *
  *  - [[commitRetrying]], the OCC retry loop every read-modify-write
  *    change runs in: refresh, build the next metadata from
  *    `(version, metadata)`, commit it, and on CommitFailedException
  *    retry on a refreshed base with jittered backoff — ten attempts,
  *    then one "commit retries exhausted". Single-shot commits
  *    (CREATE/ALTER/RENAME TABLE, staged CTAS) call [[commit]]
  *    directly and surface a lost race to the caller
  *  - [[commit]], the shared half every catalog runs: the
  *    no-absolute-path invariant (ref :155-158), writing every file
  *    entry the snapshots do not yet hold in chunks as chunks plus the
  *    manifest-list spill, the `write.metadata.compression-codec`
  *    codec, a temp `.<UUID>.metadata.json`, and — when the commit
  *    loses — deletion of that temp file and of the chunk files this
  *    attempt wrote. Once the commit has landed, metadata GC drops all
  *    but the newest 10 metadata versions (ref
  *    deleteRemovedMetadataFiles :400-416), on both catalogs
  *  - [[commitPoint]], the one per-catalog decision: make the temp file
  *    version `base + 1` or throw CommitFailedException. Here (the path
  *    catalog) it is the stale-base check, lock + exists re-check +
  *    rename-no-replace to `v<N+1>` (ref :144-180, renameToFinal
  *    :346-376), then the version hint. The JDBC catalog moves the file
  *    to a unique `v<N+1>-<tag>` name and CASes its pointer row instead.
  *
  * All byte IO routes through [[Io]], so the warehouse may be a plain
  * posix dir or any Hadoop FileSystem URI (file://, hdfs://, s3a://…
  * — ref README.md:112-121's posix→object-store relocation). The lock
  * around the commit rename is pluggable ([[CommitLock]], the ref's
  * LockManager seam): posix/file warehouses default to an OS FileLock,
  * remote schemes to rename-no-replace CAS.
  */
class TableOps(val warehouse: String, val tableLocation: String,
    val lockProps: java.util.Map[String, String] =
      java.util.Collections.emptyMap[String, String]()) {

  def tableDir: String = RelPaths.absolutize(warehouse, tableLocation)
  def metadataDir: String = s"$tableDir/metadata"
  def versionHintFile: String = s"$metadataDir/version-hint.text"
  def metadataFile(v: Int): String = s"$metadataDir/v$v.metadata.json"

  protected lazy val commitLock: CommitLock = CommitLock.from(warehouse, lockProps)

  /** `commit.rename-atomic=false` declares the warehouse's rename NOT
    * an atomic no-replace CAS (s3a/gs/abfs-style object stores, where
    * rename is copy+delete). Commit correctness then rests ENTIRELY on
    * the CommitLock's mutual exclusion + the exists re-check inside the
    * critical section — so a lock is mandatory (ref LockManager
    * double-guard, HadoopRelativeTableOperations.java:346-376). */
  protected lazy val renameAtomic: Boolean =
    Option(lockProps.get("commit.rename-atomic")).forall(_.toBoolean)

  /** The physical commit-point move. Overridable in tests to simulate
    * a store whose rename silently clobbers a concurrent winner. */
  protected def finalizeRename(tmp: String, target: String): Boolean =
    Io.renameNoReplace(tmp, target)

  /** Codec probing (ref HadoopRelativeTableOperations.java:243-251
    * getMetadataFile): a version may exist as plain JSON or gzip —
    * the reference stack's `gz` codec writes `v<N>.gz.metadata.json`
    * (we also accept the plain-suffix spelling `.metadata.json.gz`) —
    * so every read probes the known spellings in codec order. A
    * gzip-metadata warehouse written by the reference opens unchanged.
    */
  private def metadataCandidates(v: Int): Seq[String] = Seq(
    metadataFile(v),
    s"$metadataDir/v$v.gz.metadata.json",
    s"$metadataDir/v$v.metadata.json.gz")

  def existingMetadataFile(v: Int): Option[String] =
    metadataCandidates(v).find(Io.exists)

  /** A version [[existingMetadataFile]] can open — what crash recovery
    * may pick. */
  private val VersionName = """^v(\d+)(?:\.gz)?\.metadata\.json(?:\.gz)?$""".r

  /** Any catalog's metadata file name: the path catalog's `v<N>` and
    * the JDBC catalog's `v<N>-<tag>`, in every codec spelling — what
    * metadata retention reclaims. */
  private val MetadataName = """^v(\d+)(?:-[^.]+)?(?:\.gz)?\.metadata\.json(?:\.gz)?$""".r

  /** Read metadata JSON, transparently gunzipping the gz spellings. */
  def readMetadataString(p: String): String = {
    val n = p.substring(p.lastIndexOf('/') + 1)
    if (n.endsWith(".gz") || n.endsWith(".gz.metadata.json")) {
      val in = new java.util.zip.GZIPInputStream(Io.inputStream(p))
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    } else Io.readString(p)
  }

  @volatile private var cachedUuid: Option[String] = None

  // ---- manifest chunking (the reference's manifest-list indirection,
  // README.md:96): every file entry lives in an immutable chunk side
  // file, never in metadata.json, so the commit payload stays
  // O(snapshots) no matter how many files the table has. Chunks are
  // loaded LAZILY, per scan, pruned by the range keys each Manifest
  // carries — a refresh never materializes the table's file list, so
  // loadTable on a million-file table is O(snapshots). ----

  /** Parse metadata JSON. Data chunks stay unloaded — full lists come
    * from [[allFiles]]/[[filesMatching]] on demand. DELETE chunks are
    * materialized here (cache-deduped across snapshots) because every
    * scan needs the full delete set for correctness
    * (`Snapshot.deleteManifests` docs). Inline entries of metadata
    * written before every commit chunked its files parse as they are:
    * data entries stay in `Snapshot.files` (read only by [[entries]]),
    * delete entries join the in-memory delete list. */
  def parseMeta(json: String): TableMeta = {
    val meta = TableMeta.fromJson(json)
    if (meta.snapshots.forall(s => s.deleteManifests.isEmpty && s.manifestList.isEmpty))
      meta
    else meta.copy(snapshots = meta.snapshots.map { s =>
      // materialize the manifest-LIST indirection first: in memory
      // `manifests` is always the full stamp list (the side file is
      // content-addressed and immutable → cached process-wide)
      val s1 = s.manifestList match {
        case Some(p) =>
          // strip the old-reader sentinel (the inline entry whose path
          // IS the pointer — see spillStampList) and append the
          // under-full stamps inline beside it. The listed stamps stay
          // the CACHED instances, which is what lets spillStampList's
          // identity fast path skip re-hashing untouched snapshots at
          // the next commit.
          s.copy(manifests = loadStamps(p) ++ s.manifests.filterNot(_.path == p))
        case None => s
      }
      if (s1.deleteManifests.isEmpty) s1
      else s1.copy(deleteFiles = s1.deleteManifests.flatMap(loadChunk) ++ s1.deleteFiles)
    })
  }

  /** Read one manifest-list side file (snapshot chunk STAMPS) through
    * the process-wide cache. Content-addressed names make entries
    * valid forever. */
  def loadStamps(rel: String): List[Manifest] = {
    val abs = RelPaths.absolutize(warehouse, rel)
    ManifestListCache.get(abs)(TableMeta.stampsFromJson(Io.readString(abs)))
  }

  /** Serialize-side manifest-LIST spill for ONE snapshot (see
    * [[graft.meta.Snapshot.manifestList]]): the leading FULL-chunk
    * stamps (`full`) move to a CONTENT-ADDRESSED side file — an append that reuses the parent's full chunks hashes
    * to the parent's list name and writes zero new bytes, so
    * metadata.json stays O(snapshots), not O(snapshots × chunks). The
    * O(log chunk size) under-full stamps after them stay inline. List
    * files are deliberately NOT deleted when a commit loses the race (a
    * concurrent winner can own the same content-addressed name; a retry
    * of the same stamps reuses the file); unreferenced lists are
    * reclaimed at snapshot expiry, rewrite_manifests, and the orphan
    * vacuum. A snapshot with no full chunk has no list (manifestList
    * force-cleared so a stale pointer can never resurrect old stamps).
    */
  private def spillStampList(s: Snapshot, full: Manifest => Boolean): Snapshot = {
    val (listed, inline) = s.manifests.span(full)
    if (listed.isEmpty) s.copy(manifestList = None)
    else {
      // POISON PILL for pre-list readers: the serialized snapshot
      // keeps ONE inline manifest entry whose path is the list file
      // and which carries NO pruning keys. A reader without list
      // support ignores the unknown manifestList field, always
      // "loads" this entry as a chunk, and fails LOUDLY extracting
      // stamp JSON as DataFile records (no `records` field) — never
      // a silent near-empty scan. count/bytes aggregate the listed
      // stamps so dataFileCount/dataBytes stay exact for any reader.
      def sentinel(rel: String) = Manifest(rel,
        listed.map(_.count).sum, bytes = listed.map(_.bytes).sum)
      // unchanged-stamps fast path: if the listed stamps are still
      // exactly the instances parse cached for this snapshot's pointer,
      // reuse the name — a plain append pays O(chunks) pointer
      // compares here per untouched snapshot instead of JSON + SHA
      val reusable = s.manifestList.filter { p =>
        val cached = ManifestListCache.peek(RelPaths.absolutize(warehouse, p))
        cached != null && cached.corresponds(listed)(_ eq _)
      }
      val rel = reusable.getOrElse {
        val body = TableMeta.stampsToJson(listed)
        val digest = java.security.MessageDigest.getInstance("SHA-256")
          .digest(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .take(16).map("%02x".format(_)).mkString
        val fname = s"manifest-list-$digest.json"
        Io.mkdirs(metadataDir)
        val abs = s"$metadataDir/$fname"
        if (!Io.exists(abs)) {
          // temp + rename-no-replace: a crash mid-write must never
          // leave a TORN file at the content-addressed name (it
          // would be "reused" verbatim forever); losing the rename
          // to a concurrent same-content writer is fine — the
          // winner's file IS this content
          val tmp = s"$metadataDir/.${java.util.UUID.randomUUID()}.mlist"
          Io.writeString(tmp, body)
          if (!Io.renameNoReplace(tmp, abs)) Io.deleteIfExists(tmp)
        }
        s"$tableLocation/metadata/$fname"
      }
      s.copy(manifests = sentinel(rel) :: inline, manifestList = Some(rel))
    }
  }

  /** Read one manifest chunk through the process-wide [[ChunkCache]]
    * (chunks are immutable once written, so cached contents stay valid
    * across refreshes and across snapshots that share the chunk). */
  def loadChunk(m: Manifest): List[DataFile] = {
    val abs = RelPaths.absolutize(warehouse, m.path)
    ChunkCache.get(abs)(TableMeta.manifestFromJson(Io.readString(abs)))
  }

  /** The data files of `s` in the chunks `keep` admits, plus the ones
    * not yet in any chunk (`Snapshot.files`: a snapshot being built,
    * or metadata from before every commit chunked its files) — the one
    * read of that field every file-list accessor goes through. */
  private def entries(s: Snapshot)(keep: Manifest => Boolean): List[DataFile] =
    s.manifests.filter(keep).flatMap(loadChunk) ++ s.files

  /** Full materialized file list of ONE snapshot. Use only where the
    * operation genuinely needs every file (rewrites, expiry, $files);
    * scans go through [[filesMatching]] so pruned chunks never load. */
  def allFiles(s: Snapshot): List[DataFile] = entries(s)(_ => true)

  /** Chunk-pruned scan candidates: loads only manifests whose range
    * keys can satisfy `filters` (a chunk with no keys always loads —
    * sound, just unpruned). The keys are per-column bounds, so the
    * same [[FilePruning]] logic that skips files skips whole chunks;
    * callers still file-prune the result. This is what a partition-
    * filtered query on a 100×-scale table pays instead of O(all
    * files): O(matching chunks) driver parse + heap.
    */
  def filesMatching(s: Snapshot,
      filters: Seq[org.apache.spark.sql.sources.Filter]): List[DataFile] =
    entries(s) { m =>
      val probe = DataFile(m.path, records = m.count.toLong, bytes = m.bytes,
        minBound = m.minBound, maxBound = m.maxBound)
      filters.forall(FilePruning.keepFile(probe, _))
    }

  /** Candidates that may carry seq > `after` — incremental append
    * scans stay O(recent chunks), not O(table). */
  def filesNewerThan(s: Snapshot, after: Long): List[DataFile] =
    entries(s)(_.maxSeq.forall(_ > after))

  /** Candidates that may carry exactly seq = `seq` — the streaming
    * source's per-snapshot added-file listing. */
  def filesAtSeq(s: Snapshot, seq: Long): List[DataFile] =
    entries(s)(m => m.minSeq.forall(_ <= seq) && m.maxSeq.forall(_ >= seq))

  /** The data files a snapshot ADDED (stamped with its own sequence
    * number) — the shared definition every changelog/tail surface
    * (table-tail stream, CDC source, `$changes`) derives "this
    * commit's new rows" from. */
  def addedFiles(s: Snapshot): List[DataFile] =
    filesAtSeq(s, s.sequenceNumber).filter(_.seq.contains(s.sequenceNumber))

  /** Chunk pruning-key columns = partition SOURCE columns (union
    * across spec evolution): the columns scans filter on at scale, and
    * the ones the fanout writer clusters by — so chunk ranges stay
    * tight when appends are partition-scoped (the daily-ingest shape).
    * Value = whether the column compares numerically (mirroring
    * FilePruning.compareBound). */
  def partitionKeyCols(meta: TableMeta): Map[String, Boolean] = {
    val srcIds = meta.partitionSpecs.flatMap(_.fields.map(_.sourceId)).toSet
    meta.schemas.flatMap(_.fields).filter(f => srcIds(f.id))
      .map(f => f.name -> Try(
        org.apache.spark.sql.types.DataType.fromJson(f.dataType)
          .isInstanceOf[org.apache.spark.sql.types.NumericType]).getOrElse(false))
      .toMap
  }

  /** Write every file entry the snapshots do not yet hold in chunks as
    * new chunks (stamping each chunk's pruning keys), spill the
    * manifest lists, and serialize — the JSON carries no inline data
    * or delete entry. Returns the JSON and the chunk files written by
    * THIS call — the committer must delete them if the commit loses.
    *
    * Data entries to chunk are `Snapshot.files`. A delete chunk
    * carries forward while every entry it holds is still in
    * `deleteFiles`; the entries no surviving chunk holds are chunked.
    * New entries fill full chunks (`write.metadata.manifest-chunk-size`
    * each) and at most one under-full chunk; under-full chunks then
    * merge like a binary counter: two of the same power-of-two size
    * class merge, and a merge that reaches the chunk size emits a full
    * chunk and carries the rest. A snapshot therefore holds at most
    * ⌊files ÷ chunk size⌋ full chunks plus one under-full chunk per
    * size class (⌈log2 chunk size⌉), each entry is rewritten
    * O(log chunk size) times over its life, and full chunks — never
    * merged — keep the value-tight ranges their commit gave them.
    */
  protected def spillAndSerialize(meta: TableMeta): (String, List[String]) = {
    val chunkSize = meta.properties.get("write.metadata.manifest-chunk-size")
      .flatMap(s => Try(s.toInt).toOption).filter(_ > 0).getOrElse(1000)
    var written = List.empty[String]
    val keyCols: Map[String, Boolean] = partitionKeyCols(meta)
    def lt(num: Boolean)(a: String, b: String): Boolean =
      if (num) Try(BigDecimal(a) < BigDecimal(b)).getOrElse(a < b) else a < b
    def mkManifest(relPath: String, g: List[DataFile]): Manifest = {
      // a key is stamped only when EVERY member file carries the bound
      // — an absent key must mean "unknown", never "no matches"
      def agg(sel: DataFile => Map[String, String], pickMin: Boolean) =
        keyCols.flatMap { case (c, num) =>
          val vs = g.map(f => sel(f).get(c))
          if (vs.exists(_.isEmpty)) None
          else Some(c -> vs.flatten.reduce((a, b) =>
            if (lt(num)(a, b) == pickMin) a else b))
        }
      val seqs = g.map(_.seq)
      Manifest(relPath, g.size,
        minBound = agg(_.minBound, pickMin = true),
        maxBound = agg(_.maxBound, pickMin = false),
        minSeq = if (seqs.exists(_.isEmpty)) None else Some(seqs.flatten.min),
        maxSeq = if (seqs.exists(_.isEmpty)) None else Some(seqs.flatten.max),
        bytes = g.map(_.bytes).sum)
    }
    def writeChunk(g: List[DataFile]): Manifest = {
      val fname = s"manifest-${java.util.UUID.randomUUID()}.json"
      val p = s"$metadataDir/$fname"
      Io.writeString(p, TableMeta.manifestToJson(g))
      ChunkCache.get(p)(g)
      written ::= p
      mkManifest(s"$tableLocation/metadata/$fname", g)
    }
    def full(m: Manifest): Boolean = m.count >= chunkSize
    // existing chunks stay Left (never rewritten unless merged); Right
    // is a not-yet-written group
    type Part = Either[Manifest, List[DataFile]]
    def chunked(chunks: List[Manifest], pending: List[DataFile]): List[Manifest] = {
      val (fullGroups, rest) = pending.grouped(chunkSize).toList.partition(_.size == chunkSize)
      val out = scala.collection.mutable.ListBuffer.from(chunks.filter(full))
      out ++= fullGroups.map(writeChunk)
      val slots = scala.collection.mutable.Map.empty[Int, Part]
      def carry(p: Part): Unit = {
        val sizeClass = 31 - Integer.numberOfLeadingZeros(p.fold(_.count, _.size))
        slots.remove(sizeClass) match {
          case None => slots(sizeClass) = p
          case Some(prev) =>
            val (head, tail) = (Seq(prev, p).flatMap(_.fold(loadChunk, identity)))
              .toList.splitAt(chunkSize)
            if (head.size < chunkSize) carry(Right(head))
            else {
              out += writeChunk(head)
              if (tail.nonEmpty) carry(Right(tail))
            }
        }
      }
      chunks.filterNot(full).foreach(m => carry(Left(m)))
      rest.foreach(g => carry(Right(g)))
      out.toList ++ slots.toList.sortBy(-_._1).map(_._2.fold(identity, writeChunk))
    }
    val spilled = meta.copy(snapshots = meta.snapshots.map { s =>
      val s1 =
        if (s.files.isEmpty) s
        else s.copy(files = Nil, manifests = chunked(s.manifests, s.files))
      val present = s1.deleteFiles.map(_.path).toSet
      val (kept, gone) = s1.deleteManifests.partition(loadChunk(_).forall(f => present(f.path)))
      val inKept = kept.flatMap(loadChunk).map(_.path).toSet
      val pending = s1.deleteFiles.filterNot(f => inKept(f.path))
      val s2 =
        if (gone.isEmpty && pending.isEmpty) s1.copy(deleteFiles = Nil)
        else s1.copy(deleteFiles = Nil, deleteManifests = chunked(kept, pending))
      spillStampList(s2, full)
    })
    (TableMeta.toJson(spilled), written)
  }

  /** Version-hint read with recovery scan fallback. 0 = table absent. */
  def findVersion(): Int = {
    val hinted = Try {
      Io.readString(versionHintFile).trim.toInt
    }.toOption.filter(v => v > 0 && existingMetadataFile(v).isDefined)
    hinted.getOrElse {
      Io.listNames(metadataDir)
        .collect { case VersionName(d) => Try(d.toInt).getOrElse(0) }
        .foldLeft(0)(math.max)
    }
  }

  /** The newest version at or after `v` (the hint may lag). */
  private def scanForward(v: Int): Int =
    if (existingMetadataFile(v + 1).isDefined) scanForward(v + 1) else v

  /** Newest committed (version, metadata); None if the table doesn't exist. */
  def refresh(): Option[(Int, TableMeta)] = {
    val hinted = findVersion()
    if (hinted == 0) return None
    val v = scanForward(hinted)
    val meta = parseMeta(readMetadataString(existingMetadataFile(v).get))
    cachedUuid match {
      case Some(u) if u != meta.tableUuid =>
        throw new IllegalStateException(
          s"table UUID changed from $u to ${meta.tableUuid} (concurrent replace?)")
      case _ => cachedUuid = Some(meta.tableUuid)
    }
    Some((v, meta))
  }

  /** The OCC retry loop every metadata change goes through: refresh,
    * hand `(version, metadata)` to `attempt`, then commit what it
    * returns ([[TableOps.Commit]] — its `after` runs once the commit
    * has landed) or finish without committing ([[TableOps.Done]]). A
    * lost commit retries on a fresh base after a jittered exponential
    * backoff — many concurrent committers (a 1000-executor ingest
    * fan-in) otherwise re-collide on every round — and the last lost
    * attempt ends in one `"<op>: commit retries exhausted"`
    * CommitFailedException. Whatever `attempt` or `after` throws,
    * CommitConflictException included, passes through untouched.
    */
  def commitRetrying[A](op: String)(attempt: (Int, TableMeta) => TableOps.Step[A]): A = {
    @annotation.tailrec
    def loop(tries: Int): A = {
      val (v, meta) = refresh()
        .getOrElse(throw new IllegalStateException(s"$op: no such table $tableLocation"))
      attempt(v, meta) match {
        case TableOps.Done(result) => result
        case TableOps.Commit(next, after) =>
          val won = try Some(commit(v, next)) catch { case _: CommitFailedException => None }
          won match {
            case Some(nv) => after(nv)
            case None if tries == TableOps.MaxAttempts =>
              throw new CommitFailedException(s"$op: commit retries exhausted")
            case None =>
              val cap = math.min(1000L, 10L << tries)
              Thread.sleep(cap / 2 + scala.util.Random.nextLong(cap / 2 + 1))
              loop(tries + 1)
          }
      }
    }
    loop(1)
  }

  private def requireRelative(what: String, p: String): Unit =
    require(!p.startsWith("/") && !p.contains(":/"), s"$what must be warehouse-relative: $p")

  /** Commit `meta` as version `base + 1` — the half of the commit
    * protocol every catalog shares. Throws CommitFailedException when
    * [[commitPoint]] loses (concurrent winner, stale `base`), after
    * deleting everything this attempt wrote. A landed commit then
    * drops all but the newest 10 metadata versions.
    */
  def commit(base: Int, meta: TableMeta): Int = {
    // Relocation invariant (ref :155-158): nothing absolute may reach
    // the metadata file, or a warehouse move would break the table.
    requireRelative("table location", meta.location)
    meta.snapshots.foreach { s =>
      (s.files ++ s.deleteFiles).foreach(f => requireRelative("data/delete file path", f.path))
      (s.manifests ++ s.deleteManifests).foreach(m => requireRelative("manifest path", m.path))
      s.manifestList.foreach(requireRelative("manifest-list path", _))
    }

    Io.mkdirs(metadataDir)
    val (json, newManifests) = spillAndSerialize(meta)
    // write codec comes from the Iceberg-named table property; readers
    // probe, so mixed-codec version chains are fine
    val gzip = meta.properties.get("write.metadata.compression-codec")
      .exists(_.equalsIgnoreCase("gzip"))
    val tmp = s"$metadataDir/.${java.util.UUID.randomUUID()}.metadata.json"
    if (gzip) {
      val out = new java.util.zip.GZIPOutputStream(Io.outputStream(tmp))
      try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } else Io.writeString(tmp, json)

    val published =
      try commitPoint(base, tmp, gzip)
      catch {
        case e: CommitFailedException =>
          Io.deleteIfExists(tmp)
          newManifests.foreach { p => Io.deleteIfExists(p); ChunkCache.invalidate(p) }
          throw e
      }
    gcOldMetadata(keep = 10, published)
    base + 1
  }

  /** The commit point: publish the fully written metadata file `tmp`
    * as version `base + 1` and return the published file, or throw
    * CommitFailedException and leave no other trace (the caller
    * deletes `tmp`). `gzip` = `tmp` holds gzip bytes, so the published
    * name takes the `.gz` spelling.
    */
  protected def commitPoint(base: Int, tmp: String, gzip: Boolean): String = {
    val current = scanForward(findVersion())
    if (base != current)
      throw new CommitFailedException(s"stale base: committed=$current, attempted base=$base")
    val target =
      if (gzip) s"$metadataDir/v${base + 1}.gz.metadata.json"
      else metadataFile(base + 1)
    // the reference's renameToFinal double guard (:346-376): lock,
    // re-check the target, then a rename that must not clobber.
    // In lock-only mode (rename-atomic=false) the rename primitive is
    // allowed to be a dumb copy — the exists re-check INSIDE the lock's
    // critical section is then the whole CAS, so refusing to run
    // without a real lock is the difference between "safe" and
    // "silently loses one of two racing commits".
    if (!renameAtomic && (commitLock eq NoopCommitLock))
      throw new CommitFailedException(
        "commit.rename-atomic=false requires a commit lock: set commit.lock-impl")
    if (!commitLock.acquire(target, tmp))
      throw new CommitFailedException(s"failed to acquire commit lock on $target")
    try {
      if (existingMetadataFile(base + 1).isDefined)
        throw new CommitFailedException(s"version ${base + 1} already committed")
      if (!finalizeRename(tmp, target))
        throw new CommitFailedException(s"rename to $target lost the commit race")
    } catch {
      case e: CommitFailedException => throw e
      case e: Throwable =>
        throw new CommitFailedException(s"rename to $target failed: ${e.getMessage}")
    } finally commitLock.release(target, tmp)

    writeVersionHint(base + 1)
    target
  }

  /** Best-effort hint rewrite via temp + atomic replace (ref :283-300). */
  def writeVersionHint(v: Int): Unit = Try {
    val tmp = s"$metadataDir/.hint-${java.util.UUID.randomUUID()}"
    Io.writeString(tmp, v.toString)
    Io.renameReplace(tmp, versionHintFile)
  }

  /** Best-effort metadata retention, the same on every catalog: delete
    * the metadata files of all but the newest `keep` versions, never
    * `published` (the file this commit just made current). */
  private def gcOldMetadata(keep: Int, published: String): Unit = Try {
    val byVersion = Io.listNames(metadataDir).toSeq
      .collect { case n @ MetadataName(d) => Try(d.toInt).getOrElse(0) -> n }
    val kept = byVersion.map(_._1).distinct.sorted.takeRight(keep).toSet
    val current = published.substring(published.lastIndexOf('/') + 1)
    byVersion.collect { case (v, n) if !kept(v) && n != current => n }
      .foreach(n => Io.deleteIfExists(s"$metadataDir/$n"))
  }
}

object TableOps {
  /** Commit attempts [[TableOps.commitRetrying]] makes before giving up. */
  val MaxAttempts = 10

  /** What one attempt of [[TableOps.commitRetrying]] decided. */
  sealed trait Step[+A]

  /** Commit `meta` as the next version; once it has landed,
    * `after(newVersion)` is the result. */
  final case class Commit[A](meta: TableMeta, after: Int => A) extends Step[A]

  object Commit {
    def apply(meta: TableMeta): Commit[Unit] = Commit(meta, _ => ())
  }

  /** Finish without committing. */
  final case class Done[A](result: A) extends Step[A]
}

/** Process-wide cache of loaded manifest chunks, keyed by ABSOLUTE
  * chunk path. Chunks are content-frozen at spill time and UUID-named,
  * so an entry never goes stale across refreshes or snapshots — the
  * one in-place rewrite (table rename remapping embedded paths)
  * invalidates explicitly. Bounded by total cached FILE ENTRIES with
  * LRU eviction, so a long-lived driver planning against many large
  * tables keeps each table's hot chunks rather than one table's
  * entire list. Loads are SINGLE-FLIGHT PER PATH with the IO outside
  * the cache lock: concurrent planners asking for the same chunk read
  * it once, while loads of different chunks (different queries,
  * different tables) proceed in parallel — a global lock around
  * driver-side metadata IO would serialize every concurrent planner
  * in the process.
  */
/** Bounded LRU + single-flight cache for immutable metadata side
  * files, keyed by ABSOLUTE path — one implementation behind both
  * [[ChunkCache]] and [[ManifestListCache]] (they differ only in
  * value type and size accounting). Loads run with no lock held;
  * concurrent loads of the same path read once; a replaced entry's
  * size is subtracted (two threads racing past the in-flight window
  * may both put the same key — counting both would permanently
  * shrink the effective capacity).
  */
final class SideFileCache[V >: Null <: AnyRef](maxEntries: Long, entrySize: V => Int) {
  private val map = new java.util.LinkedHashMap[String, V](64, 0.75f, true)
  private var totalEntries = 0L
  private val inflight = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[V]]

  def get(absPath: String)(load: => V): V = {
    synchronized {
      val hit = map.get(absPath)
      if (hit != null) return hit
    }
    val fut = new java.util.concurrent.CompletableFuture[V]()
    val prev = inflight.putIfAbsent(absPath, fut)
    if (prev != null) return prev.join()
    try {
      val v = load // IO with no lock held
      synchronized {
        val replaced = map.put(absPath, v)
        if (replaced != null) totalEntries -= entrySize(replaced)
        totalEntries += entrySize(v)
        val it = map.entrySet().iterator()
        while (totalEntries > maxEntries && it.hasNext) {
          val e = it.next()
          if (e.getKey != absPath) { totalEntries -= entrySize(e.getValue); it.remove() }
        }
      }
      fut.complete(v)
      v
    } catch {
      case e: Throwable => fut.completeExceptionally(e); throw e
    } finally inflight.remove(absPath)
  }

  /** Cached value for `absPath`, or null — no load, no LRU touch-up
    * beyond the accessOrder get. Used for identity checks ("are these
    * stamps still exactly the parsed list?"). */
  def peek(absPath: String): V = synchronized(map.get(absPath))

  def invalidate(absPath: String): Unit = synchronized {
    val v = map.remove(absPath)
    if (v != null) totalEntries -= entrySize(v)
  }

  def invalidateAll(): Unit = synchronized {
    map.clear()
    totalEntries = 0L
  }

  def cachedCount: Int = synchronized(map.size)
}

/** Process-wide cache of manifest-LIST side files (snapshot chunk
  * stamps, [[graft.meta.Snapshot.manifestList]]). Content-addressed
  * names make entries immutable-forever.
  */
object ManifestListCache {
  private val impl = new SideFileCache[List[Manifest]](
    sys.props.get("graft.manifest-list-cache.max-entries")
      .flatMap(s => Try(s.toLong).toOption).filter(_ > 0).getOrElse(1000000L),
    _.size)

  def get(absPath: String)(load: => List[Manifest]): List[Manifest] =
    impl.get(absPath)(load)
  def peek(absPath: String): List[Manifest] = impl.peek(absPath)
  def invalidateAll(): Unit = impl.invalidateAll()
}

object ChunkCache {
  private val impl = new SideFileCache[List[DataFile]](
    sys.props.get("graft.chunk-cache.max-file-entries")
      .flatMap(s => Try(s.toLong).toOption).filter(_ > 0).getOrElse(1000000L),
    _.size)

  def get(absPath: String)(load: => List[DataFile]): List[DataFile] =
    impl.get(absPath)(load)

  def invalidate(absPath: String): Unit = impl.invalidate(absPath)

  def invalidateAll(): Unit = impl.invalidateAll()

  /** Test/diagnostic hook: number of chunks currently cached. */
  def cachedChunks: Int = impl.cachedCount
}
