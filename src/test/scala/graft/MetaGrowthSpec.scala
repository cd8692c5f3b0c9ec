package graft

import graft.catalog.{ChunkCache, Io, ManifestListCache, TableOps}
import graft.meta._
import org.scalatest.funsuite.AnyFunSuite

/** Metadata growth under a long append history at chunked-table scale
  * — the claim the chunk-only layout and the manifest-LIST indirection
  * exist for. Before the list, every retained snapshot repeated all
  * chunk stamps inline: metadata.json grew O(snapshots × chunks)
  * (measured r16: 3.26 MB at 30 snapshots × 400 chunks, ~109 KB per
  * commit re-serialized). Before every commit chunked its files, each
  * snapshot also re-serialized its inline file tail. Now file entries
  * live only in chunks, snapshots sharing a full-chunk set share ONE
  * list file, and only O(log chunk size) under-full stamps stay inline:
  * metadata.json is O(snapshots), and a plain append writes zero new
  * list bytes until it completes a full chunk.
  */
class MetaGrowthSpec extends AnyFunSuite {

  private val Chunks = 400
  private val PerChunk = 50

  private def synthesize(chunks: Int = Chunks, suffix: String = ""): String = {
    val wh = s"/tmp/graft_test_metagrowth$suffix"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val loc = "p/bigt"
    val mdDir = s"$wh/$loc/metadata"
    Io.mkdirs(mdDir)
    val manifests = (0 until chunks).toList.map { c =>
      val files = (0 until PerChunk).toList.map { i =>
        DataFile(s"$loc/data/k=$c/f$i.parquet", 1000L, 1L << 20,
          partition = Map("k" -> c.toString),
          minBound = Map("k" -> c.toString), maxBound = Map("k" -> c.toString),
          seq = Some(c + 1L))
      }
      val fname = s"manifest-synth-$c.json"
      Io.writeString(s"$mdDir/$fname", TableMeta.manifestToJson(files))
      Manifest(s"$loc/metadata/$fname", PerChunk,
        minBound = Map("k" -> c.toString), maxBound = Map("k" -> c.toString),
        minSeq = Some(c + 1L), maxSeq = Some(c + 1L), bytes = PerChunk.toLong << 20)
    }
    val intJson = org.apache.spark.sql.types.IntegerType.json
    val meta0 = TableMeta(1, java.util.UUID.randomUUID().toString, loc, chunks.toLong,
      1723600000000L, 2, 0,
      List(SchemaDef(0, List(FieldDef(1, "k", intJson, required = false)))),
      0, List(PartSpec(0, List(PartField(1, 1000, "k", "identity")))),
      1000, 0, Nil,
      Map("write.metadata.manifest-chunk-size" -> PerChunk.toString),
      Some(1L),
      List(Snapshot(1L, None, chunks.toLong, 1723600000000L, "append",
        Map.empty, files = Nil, manifests = manifests)),
      List(SnapshotLogEntry(1723600000000L, 1L)), Nil,
      Map("main" -> Ref(1L, "branch")))
    Io.writeString(s"$mdDir/v1.metadata.json", TableMeta.toJson(meta0))
    Io.writeString(s"$mdDir/version-hint.text", "1")
    wh
  }

  test("30 appends at 400 chunks: metadata stays O(snapshots), lists shared") {
    val wh = synthesize()
    ChunkCache.invalidateAll()
    ManifestListCache.invalidateAll()
    val ops = new TableOps(wh, "p/bigt")
    var (v, meta) = ops.refresh().get
    val inlineStampBytes = new java.io.File(s"$wh/p/bigt/metadata/v1.metadata.json").length

    var lastCommitMs = 0.0
    for (k <- 2 to 31) {
      val snap = meta.currentSnapshot.get
      val nf = (0 until 10).toList.map(i =>
        DataFile(s"p/bigt/data/k=999/a$k-$i.parquet", 100L, 1L << 18,
          partition = Map("k" -> "999"), minBound = Map("k" -> "999"),
          maxBound = Map("k" -> "999"), seq = Some(Chunks + k.toLong)))
      val s2 = snap.copy(snapshotId = k.toLong, parentId = Some(snap.snapshotId),
        sequenceNumber = Chunks + k.toLong, files = snap.files ++ nf,
        manifests = snap.manifests)
      val m2 = meta.copy(lastSequenceNumber = Chunks + k.toLong,
        currentSnapshotId = Some(k.toLong), snapshots = meta.snapshots :+ s2,
        snapshotLog = meta.snapshotLog :+ SnapshotLogEntry(1723600000000L + k, k.toLong),
        refs = Map("main" -> Ref(k.toLong, "branch")))
      val t0 = System.nanoTime()
      v = ops.commit(v, m2)
      lastCommitMs = (System.nanoTime() - t0) / 1e6
      meta = ops.refresh().get._2
    }
    val names = new java.io.File(s"$wh/p/bigt/metadata").listFiles().map(_.getName)
    val listFiles = names.count(_.startsWith("manifest-list-"))
    val finalSize = new java.io.File(ops.existingMetadataFile(v).get).length
    info(f"31 snapshots: metadata ${finalSize / 1024} KB (inline-stamps v1 was " +
      f"${inlineStampBytes / 1024} KB for ONE snapshot), $listFiles list files, " +
      f"last commit $lastCommitMs%.0f ms")
    // pre-list behavior repeated the ~100 KB stamp block once per
    // snapshot (31 × inlineStampBytes ≈ 3.1 MB, measured 3.26 MB in
    // r16 before the change); with lists the stamps live once per
    // DISTINCT full-chunk set and metadata carries only snapshot rows
    // + a few under-full stamps each (measured 31 KB): all 31 snapshots
    // together stay below ONE inline stamp block
    assert(finalSize < inlineStampBytes,
      s"metadata $finalSize bytes: stamps are repeating per snapshot again " +
        s"(single-snapshot stamp block is $inlineStampBytes bytes)")
    assert(finalSize < 64L * 1024, s"metadata $finalSize bytes not O(snapshots)")
    // 10 files per append, chunk size 50: under-full chunks merge into
    // a new FULL chunk about every 5 appends → the listed stamps change
    // at most 6 times; every other append REUSES its parent's
    // content-addressed list byte-for-byte
    assert(listFiles <= 7, s"expected <= 7 distinct stamp lists, got $listFiles")
    assert(lastCommitMs < 1000, f"append commit took $lastCommitMs%.0f ms")

    // cold re-read: everything materializes through the list cache
    ChunkCache.invalidateAll()
    ManifestListCache.invalidateAll()
    val ops2 = new TableOps(wh, "p/bigt")
    val snap = ops2.refresh().get._2.currentSnapshot.get
    assert(snap.dataFileCount == Chunks * PerChunk + 300,
      s"expected ${Chunks * PerChunk + 300} files, got ${snap.dataFileCount}")
    // historic snapshots materialize too (time travel floor)
    assert(ops2.refresh().get._2.snapshots.forall(_.manifests.nonEmpty))

    // expiry reclaims the lists only expired snapshots referenced
    graft.catalog.Maintenance.expireSnapshots(ops2, keepLast = 2)
    val names2 = new java.io.File(s"$wh/p/bigt/metadata").listFiles().map(_.getName)
    val keptLists = ops2.refresh().get._2.snapshots.flatMap(_.manifestList).distinct
    assert(keptLists.nonEmpty && names2.count(_.startsWith("manifest-list-")) == keptLists.size,
      s"only the kept snapshots' lists ($keptLists) may survive; expired-only lists must be GC'd")
    val snap2 = ops2.refresh().get._2.currentSnapshot.get
    assert(snap2.dataFileCount == Chunks * PerChunk + 300)

    // integrity reports a deleted list file even while the process
    // cache still serves its stamps (the synthesized table has no
    // parquet files, so filter to the list-specific problem)
    def listProblems = graft.catalog.Maintenance.verifyIntegrity(ops2)
      .filter(_.startsWith("missing manifest list"))
    assert(listProblems.isEmpty, s"healthy table reported: $listProblems")
    assert(new java.io.File(graft.meta.RelPaths.absolutize(wh, snap2.manifestList.get)).delete())
    assert(listProblems.nonEmpty,
      "a deleted manifest-list file must fail integrity despite the warm cache")
  }

  test("pre-list readers fail LOUDLY on a list-spilled snapshot (poison-pill sentinel)") {
    val wh = synthesize()
    ChunkCache.invalidateAll()
    ManifestListCache.invalidateAll()
    val ops = new TableOps(wh, "p/bigt")
    var (v, meta) = ops.refresh().get
    // one commit so the metadata on disk goes through spillStampList
    val snap = meta.currentSnapshot.get
    val s2 = snap.copy(snapshotId = 2L, parentId = Some(1L),
      sequenceNumber = Chunks + 1L,
      files = List(DataFile("p/bigt/data/k=999/x.parquet", 1L, 1L,
        partition = Map("k" -> "999"), seq = Some(Chunks + 1L))))
    v = ops.commit(v, meta.copy(lastSequenceNumber = Chunks + 1L,
      currentSnapshotId = Some(2L), snapshots = meta.snapshots :+ s2,
      refs = Map("main" -> Ref(2L, "branch"))))

    // the RAW serialized form (what a pre-list reader deserializes,
    // ignoring the unknown manifestList field): per spilled snapshot,
    // one leading manifest entry whose path IS the list file and whose
    // count/bytes equal the listed full chunks' totals, then only the
    // under-full stamps (snapshot 2's one new file) — so an old
    // reader's count sum is exact
    val raw = TableMeta.fromJson(ops.readMetadataString(ops.existingMetadataFile(v).get))
    raw.snapshots.foreach { s =>
      val added = if (s.snapshotId == 2L) 1 else 0
      assert(s.manifestList.isDefined, "both snapshots hold full chunks")
      assert(s.manifests.size == 1 + added && s.manifests.head.path == s.manifestList.get,
        s"sentinel shape wrong: ${s.manifests.map(_.path)} vs ${s.manifestList}")
      assert(s.manifests.head.count == Chunks * PerChunk,
        s"sentinel count ${s.manifests.head.count}")
      assert(s.manifests.tail.forall(m => m.count < PerChunk && m.path != s.manifestList.get))
      assert(s.manifests.map(_.count).sum == Chunks * PerChunk + added)
      assert(s.files.isEmpty, "file entries must live only in chunks")
      assert(s.manifests.head.minBound.isEmpty && s.manifests.head.minSeq.isEmpty,
        "sentinel must carry NO pruning keys (an old reader must always load it)")
    }
    // and the old reader's load path — parsing the list file as a
    // CHUNK (DataFile records) — throws instead of returning rows
    val sentinelAbs = RelPaths_abs(wh, raw.snapshots.head.manifests.head.path)
    intercept[Throwable] {
      TableMeta.manifestFromJson(Io.readString(sentinelAbs))
    }
    // while the NEW reader materializes the stamps and sees every file
    ChunkCache.invalidateAll()
    ManifestListCache.invalidateAll()
    val parsed = ops.refresh().get._2
    assert(parsed.snapshots.forall { s =>
      val listed = s.manifests.filter(_.count == PerChunk)
      listed.size == Chunks && listed.forall(_.minBound.nonEmpty) &&
        s.manifests.size == Chunks + (if (s.snapshotId == 2L) 1 else 0)
    })
    assert(ops.allFiles(parsed.currentSnapshot.get).size == Chunks * PerChunk + 1)
  }

  private def RelPaths_abs(wh: String, p: String): String =
    graft.meta.RelPaths.absolutize(wh, p)

  // (the name keeps its original wording; the inline tail it names is
  // now always empty, and the bounds below are O(snapshots))
  test("100-TB shape: 100 appends at 2000 chunks stay O(snapshots x inline-tail), commits bounded") {
    // the extrapolated claim, measured: at ~2000 chunks a single
    // inline stamp block is ~0.5 MB, so pre-list behavior would pay
    // ~0.5 MB x 100 snapshots ≈ 50 MB of metadata.json and re-serialize
    // the whole block on EVERY commit. With content-addressed lists the
    // full-chunk stamps live once per distinct chunk set and an
    // ordinary append re-serializes only snapshot rows + a few
    // under-full stamps each.
    val BigChunks = 2000
    val wh = synthesize(BigChunks, suffix = "_2k")
    ChunkCache.invalidateAll()
    ManifestListCache.invalidateAll()
    val ops = new TableOps(wh, "p/bigt")
    var (v, meta) = ops.refresh().get
    val inlineStampBytes = new java.io.File(s"$wh/p/bigt/metadata/v1.metadata.json").length

    def listCount = new java.io.File(s"$wh/p/bigt/metadata").listFiles()
      .count(_.getName.startsWith("manifest-list-"))
    var noSpillCommitMs = List.empty[Double]
    for (k <- 2 to 101) {
      val snap = meta.currentSnapshot.get
      val nf = (0 until 10).toList.map(i =>
        DataFile(s"p/bigt/data/k=999/a$k-$i.parquet", 100L, 1L << 18,
          partition = Map("k" -> "999"), minBound = Map("k" -> "999"),
          maxBound = Map("k" -> "999"), seq = Some(BigChunks + k.toLong)))
      val s2 = snap.copy(snapshotId = k.toLong, parentId = Some(snap.snapshotId),
        sequenceNumber = BigChunks + k.toLong, files = snap.files ++ nf,
        manifests = snap.manifests)
      val m2 = meta.copy(lastSequenceNumber = BigChunks + k.toLong,
        currentSnapshotId = Some(k.toLong), snapshots = meta.snapshots :+ s2,
        snapshotLog = meta.snapshotLog :+ SnapshotLogEntry(1723600000000L + k, k.toLong),
        refs = Map("main" -> Ref(k.toLong, "branch")))
      val listsBefore = listCount
      val t0 = System.nanoTime()
      v = ops.commit(v, m2)
      val ms = (System.nanoTime() - t0) / 1e6
      // under-full chunks merge into a new full chunk about every 5
      // appends (chunk size 50, 10 files/append) — those commits
      // legitimately write one new stamp list; measure the ORDINARY
      // append separately
      if (listCount == listsBefore) noSpillCommitMs :+= ms
      meta = ops.refresh().get._2
    }
    val finalSize = new java.io.File(ops.existingMetadataFile(v).get).length
    val listFiles = new java.io.File(s"$wh/p/bigt/metadata").listFiles()
      .count(_.getName.startsWith("manifest-list-"))
    info(f"101 snapshots x $BigChunks chunks: metadata ${finalSize / 1024} KB " +
      f"(one inline stamp block = ${inlineStampBytes / 1024} KB; pre-list " +
      f"would be ~${inlineStampBytes * 101L / (1024 * 1024)} MB), " +
      f"$listFiles list files, median no-spill commit " +
      f"${noSpillCommitMs.sorted.apply(noSpillCommitMs.size / 2)}%.0f ms")
    // O(snapshots), NOT O(snapshots x chunks): all 101 snapshots
    // together stay below HALF of one inline stamp block (measured
    // 102 KB against 505 KB)
    assert(finalSize < inlineStampBytes / 2,
      s"metadata $finalSize bytes: stamps are repeating per snapshot again " +
        s"(single-snapshot stamp block is $inlineStampBytes bytes)")
    assert(finalSize < 256L * 1024, s"metadata $finalSize bytes not O(snapshots)")
    assert(noSpillCommitMs.size >= 50, s"only ${noSpillCommitMs.size} ordinary appends")
    // distinct stamp sets: one per new full chunk (~every 5 appends),
    // not one per commit
    assert(listFiles <= 22, s"expected ~21 distinct stamp lists, got $listFiles")
    // commit serialization stays bounded at 2000 chunks: an ordinary
    // append never re-serializes the stamp block
    val medianMs = noSpillCommitMs.sorted.apply(noSpillCommitMs.size / 2)
    assert(medianMs < 500, f"ordinary append commit median $medianMs%.0f ms at 2000 chunks")
    // the whole table still materializes
    ChunkCache.invalidateAll()
    ManifestListCache.invalidateAll()
    val snap = new TableOps(wh, "p/bigt").refresh().get._2.currentSnapshot.get
    assert(snap.dataFileCount == BigChunks * PerChunk + 1000)
  }

  // debris a crashed or lost commit can leave in metadata/: a list
  // file no snapshot names, and a chunk file no stamp names
  private val orphanDebris: Seq[(String, String, String)] = Seq(
    ("manifest-list", "manifest-list-deadbeef00.json", TableMeta.stampsToJson(Nil)),
    ("manifest chunk", s"manifest-${java.util.UUID.randomUUID()}.json",
      TableMeta.manifestToJson(List(DataFile("p/bigt/data/k=5/lost.parquet", 1L, 1L)))))

  for ((kind, debrisName, body) <- orphanDebris)
    test(s"orphan vacuum reclaims never-referenced $kind files, keeps live ones") {
      val wh = synthesize()
      ChunkCache.invalidateAll()
      ManifestListCache.invalidateAll()
      val ops = new TableOps(wh, "p/bigt")
      val (v, meta) = ops.refresh().get
      // commit one appended file → a live list file (the 400 full
      // chunks) plus a live under-full chunk stamped inline
      val cur = meta.currentSnapshot.get
      ops.commit(v, meta.copy(lastSequenceNumber = Chunks + 1L,
        currentSnapshotId = Some(2L),
        snapshots = meta.snapshots :+ cur.copy(snapshotId = 2L, parentId = Some(1L),
          sequenceNumber = Chunks + 1L,
          files = List(DataFile("p/bigt/data/k=999/new.parquet", 1L, 1L, seq = Some(Chunks + 1L)))),
        refs = Map("main" -> Ref(2L, "branch"))))
      val mdDir = new java.io.File(s"$wh/p/bigt/metadata")
      def sideFiles = mdDir.listFiles().map(_.getName).filter(_.startsWith("manifest-")).toSet
      val live = sideFiles
      assert(live.count(_.startsWith("manifest-list-")) == 1)
      assert(live.count(n => !n.startsWith("manifest-list-")) == Chunks + 1)
      // plant the aged leftover
      val stale = new java.io.File(mdDir, debrisName)
      Io.writeString(stale.getPath, body)
      assert(stale.setLastModified(System.currentTimeMillis() - 86400000L))
      val removed = graft.catalog.Maintenance.removeOrphanFiles(ops,
        olderThanMs = System.currentTimeMillis() - 3600000L)
      assert(removed == 1 && !stale.exists(), s"stale unreferenced $kind must be vacuumed")
      assert(sideFiles == live, "every referenced list and chunk must survive the vacuum")
      // the table still reads whole
      ChunkCache.invalidateAll()
      ManifestListCache.invalidateAll()
      val snap = ops.refresh().get._2.currentSnapshot.get
      assert(snap.dataFileCount == Chunks * PerChunk + 1)
      assert(ops.allFiles(snap).size == Chunks * PerChunk + 1)
    }

  test("500 one-file appends: metadata.json O(snapshots), stamps O(files/chunk + log chunk)") {
    val wh = "/tmp/graft_test_metagrowth_500"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val loc = "p/app"
    val ChunkSize = 16
    val Appends = 500
    val intJson = org.apache.spark.sql.types.IntegerType.json
    val ops = new TableOps(wh, loc)
    ops.commit(0, TableMeta(1, java.util.UUID.randomUUID().toString, loc, 0L,
      1723600000000L, 1, 0,
      List(SchemaDef(0, List(FieldDef(1, "k", intJson, required = false)))),
      0, List(PartSpec(0, List(PartField(1, 1000, "k", "identity")))),
      1000, 0, Nil,
      Map("write.metadata.manifest-chunk-size" -> ChunkSize.toString),
      None, Nil, Nil, Nil, Map.empty))
    for (k <- 1 to Appends) {
      val (v, meta) = ops.refresh().get
      val parent = meta.currentSnapshot
      val day = (k % 7).toString
      val snap = Snapshot(k.toLong, parent.map(_.snapshotId), k.toLong,
        1723600000000L + k, "append", Map.empty,
        files = List(DataFile(s"$loc/data/k=$day/f$k.parquet", 10L, 1000L,
          partition = Map("k" -> day), minBound = Map("k" -> day),
          maxBound = Map("k" -> day), seq = Some(k.toLong))),
        manifests = parent.map(_.manifests).getOrElse(Nil),
        manifestList = parent.flatMap(_.manifestList))
      ops.commit(v, meta.copy(lastSequenceNumber = k.toLong,
        currentSnapshotId = Some(k.toLong), snapshots = meta.snapshots :+ snap,
        snapshotLog = meta.snapshotLog :+ SnapshotLogEntry(1723600000000L + k, k.toLong),
        refs = Map("main" -> Ref(k.toLong, "branch"))))
    }
    val (v, meta) = ops.refresh().get
    assert(meta.snapshots.size == Appends)
    // every snapshot: at most ⌊files ÷ chunk⌋ + ⌈log2 chunk⌉ + 1 stamps
    val logChunk = 32 - Integer.numberOfLeadingZeros(ChunkSize - 1)
    meta.snapshots.foreach { s =>
      val files = s.sequenceNumber.toInt
      assert(s.dataFileCount == files)
      assert(s.manifests.size <= files / ChunkSize + logChunk + 1,
        s"snapshot ${s.snapshotId}: ${s.manifests.size} stamps for $files files")
    }
    val all = ops.allFiles(meta.currentSnapshot.get)
    assert(all.size == Appends && all.map(_.path).distinct.size == Appends)
    // the raw JSON holds no file entry, and its size is a constant per
    // retained snapshot
    val file = new java.io.File(ops.existingMetadataFile(v).get)
    val raw = TableMeta.fromJson(ops.readMetadataString(file.getPath))
    assert(raw.snapshots.forall(s => s.files.isEmpty && s.deleteFiles.isEmpty))
    val perSnapshot = file.length / Appends
    info(s"$Appends snapshots: metadata.json ${file.length / 1024} KB, $perSnapshot bytes/snapshot")
    assert(perSnapshot <= 2048, s"$perSnapshot bytes per retained snapshot")
    // metadata GC kept the newest 10 versions only
    assert(new java.io.File(s"$wh/$loc/metadata").listFiles()
      .count(_.getName.endsWith(".metadata.json")) == 10)
  }
}
