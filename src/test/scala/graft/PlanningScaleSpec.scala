package graft

import graft.catalog.{ChunkCache, Io, TableOps}
import graft.meta._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, In, LessThan}
import org.scalatest.funsuite.AnyFunSuite

/** Planning cost at 100× file counts — the driver-side analog of the
  * reference's whole reason for lazy metadata
  * (HadoopRelativeTableOperations.java:96-141: refresh parses one
  * metadata file, never the file listing). ManifestPruneSpec pins the
  * pruning MECHANISM at ~20 chunks; this spec pins the COMPLEXITY
  * CLAIM at 20,000 files / 400 chunks, synthesized metadata-only (no
  * parquet — planning never touches data files, so none are needed):
  *
  *   - refresh is O(metadata.json), loads ZERO chunks;
  *   - a partition-pruned plan loads O(matching chunks), not O(table):
  *     1 of 400 for a point filter, and its wall time is a small
  *     fraction of full materialization;
  *   - incremental listings prune by seq keys at the same scale.
  *
  * At 100 TB (~10⁶ files of 100 MB) the same layout is ~2,000 chunks
  * of 500 — identical shape, one order of magnitude more chunk
  * STAMPS to range-check (cheap driver scan over a resident list),
  * and still exactly O(matching chunks) of IO + JSON parse.
  */
class PlanningScaleSpec extends AnyFunSuite {

  private val Chunks = 400
  private val PerChunk = 50 // 20,000 files total

  private class CountingOps(wh: String, loc: String) extends TableOps(wh, loc) {
    var chunkLoads = 0
    override def loadChunk(m: Manifest): List[DataFile] = {
      chunkLoads += 1
      super.loadChunk(m)
    }
  }

  /** Write a 20k-file table directly at the metadata level: chunk c
    * holds PerChunk files, all in partition k=c, added by commit seq
    * c+1 — the shape 400 partition-scoped ingest commits produce. */
  private def synthesize(): String = {
    val wh = "/tmp/graft_test_planscale"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val loc = "p/bigt"
    val mdDir = s"$wh/$loc/metadata"
    Io.mkdirs(mdDir)
    val manifests = (0 until Chunks).toList.map { c =>
      val files = (0 until PerChunk).toList.map { i =>
        DataFile(s"$loc/data/k=$c/f$i.parquet", records = 1000L,
          bytes = 1L << 20, partition = Map("k" -> c.toString),
          minBound = Map("k" -> c.toString), maxBound = Map("k" -> c.toString),
          seq = Some(c + 1L))
      }
      val fname = s"manifest-synth-$c.json"
      Io.writeString(s"$mdDir/$fname", TableMeta.manifestToJson(files))
      Manifest(s"$loc/metadata/$fname", PerChunk,
        minBound = Map("k" -> c.toString), maxBound = Map("k" -> c.toString),
        minSeq = Some(c + 1L), maxSeq = Some(c + 1L),
        bytes = files.map(_.bytes).sum)
    }
    val intJson = org.apache.spark.sql.types.IntegerType.json
    val longJson = org.apache.spark.sql.types.LongType.json
    val meta = TableMeta(
      formatVersion = 1, tableUuid = java.util.UUID.randomUUID().toString,
      location = loc, lastSequenceNumber = Chunks.toLong,
      lastUpdatedMs = 1723600000000L, lastColumnId = 2, currentSchemaId = 0,
      schemas = List(SchemaDef(0, List(
        FieldDef(1, "k", intJson, required = false),
        FieldDef(2, "v", longJson, required = false)))),
      defaultSpecId = 0,
      partitionSpecs = List(PartSpec(0, List(PartField(1, 1000, "k", "identity")))),
      lastPartitionId = 1000, defaultSortOrderId = 0, sortOrders = Nil,
      properties = Map("write.metadata.manifest-chunk-size" -> PerChunk.toString),
      currentSnapshotId = Some(1L),
      snapshots = List(Snapshot(1L, None, Chunks.toLong, 1723600000000L,
        "append", Map.empty, files = Nil, manifests = manifests)),
      snapshotLog = List(SnapshotLogEntry(1723600000000L, 1L)),
      metadataLog = Nil, refs = Map("main" -> Ref(1L, "branch")))
    Io.writeString(s"$mdDir/v1.metadata.json", TableMeta.toJson(meta))
    Io.writeString(s"$mdDir/version-hint.text", "1")
    wh
  }

  private def bestOf3(body: => Unit): Long =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime(); body; System.nanoTime() - t0
    }.min

  test("20k-file table: refresh is O(metadata.json), planning O(matching chunks)") {
    val wh = synthesize()
    ChunkCache.invalidateAll()
    val ops = new CountingOps(wh, "p/bigt")

    // refresh must parse ONE metadata file and zero chunks
    val tRefresh = System.nanoTime()
    val (_, meta) = ops.refresh().get
    val refreshMs = (System.nanoTime() - tRefresh) / 1e6
    val snap = meta.currentSnapshot.get
    assert(snap.manifests.size == Chunks && snap.files.isEmpty)
    assert(snap.dataFileCount == Chunks * PerChunk)
    assert(ops.chunkLoads == 0, s"refresh loaded ${ops.chunkLoads} chunks")
    assert(refreshMs < 2000, f"refresh took $refreshMs%.0f ms on 400-manifest metadata")

    // point partition filter: exactly 1 of 400 chunks, 50 candidates
    ops.chunkLoads = 0
    val hit = ops.filesMatching(snap, Seq(EqualTo("k", 137)))
    assert(ops.chunkLoads == 1, s"k=137 loaded ${ops.chunkLoads}/400 chunks")
    assert(hit.size == PerChunk && hit.forall(_.partition("k") == "137"))

    // range over 10 partitions: exactly 10 loads
    ops.chunkLoads = 0
    ChunkCache.invalidateAll()
    val range = ops.filesMatching(snap,
      Seq(GreaterThanOrEqual("k", 100), LessThan("k", 110)))
    assert(ops.chunkLoads == 10, s"k in [100,110) loaded ${ops.chunkLoads} chunks")
    assert(range.size == 10 * PerChunk)

    // IN over 3 scattered partitions: exactly 3 loads
    ops.chunkLoads = 0
    ChunkCache.invalidateAll()
    val in3 = ops.filesMatching(snap, Seq(In("k", Array(7, 200, 399))))
    assert(ops.chunkLoads == 3 && in3.size == 3 * PerChunk)

    // incremental tail at scale: only the seq-400 chunk loads
    ops.chunkLoads = 0
    ChunkCache.invalidateAll()
    val tail = ops.filesNewerThan(snap, after = Chunks - 1L)
    assert(ops.chunkLoads == 1, s"tail listing loaded ${ops.chunkLoads} chunks")
    assert(tail.size == PerChunk && tail.forall(_.seq.contains(Chunks.toLong)))

    // wall-time shape: pruned planning is a small fraction of full
    // materialization (cold cache on both sides, best-of-3)
    val prunedNs = bestOf3 {
      ChunkCache.invalidateAll()
      assert(ops.filesMatching(snap, Seq(EqualTo("k", 42))).size == PerChunk)
    }
    val fullNs = bestOf3 {
      ChunkCache.invalidateAll()
      assert(ops.allFiles(snap).size == Chunks * PerChunk)
    }
    info(f"pruned plan ${prunedNs / 1e6}%.2f ms vs full materialization ${fullNs / 1e6}%.2f ms")
    assert(prunedNs * 2 < fullNs,
      f"pruned ${prunedNs / 1e6}%.2f ms not ≪ full ${fullNs / 1e6}%.2f ms — " +
        "planning is no longer O(matching chunks)")
    assert(prunedNs < 500L * 1000 * 1000, "point-filter planning must stay sub-500ms")

    // correctness floor: full list intact, 400 loads exactly once each
    ops.chunkLoads = 0
    ChunkCache.invalidateAll()
    assert(ops.allFiles(snap).size == Chunks * PerChunk && ops.chunkLoads == Chunks)
    ChunkCache.invalidateAll()
  }

  test("append to the 20k-file table: commit payload and wall time stay O(change)") {
    val wh = synthesize()
    ChunkCache.invalidateAll()
    val ops = new CountingOps(wh, "p/bigt")
    val (v, meta) = ops.refresh().get
    val before = new java.io.File(s"$wh/p/bigt/metadata/v1.metadata.json").length
    // the O(chunks) pin itself: 400 manifest stamps serialize to ~2
    // orders of magnitude less than 20k inline file records would
    assert(before < 500L * 1024,
      s"single-snapshot metadata is $before bytes — manifest stamps no longer O(chunks)")

    val snap = meta.currentSnapshot.get
    val newFiles = (0 until 40).toList.map { i =>
      DataFile(s"p/bigt/data/k=400/g$i.parquet", records = 1000L,
        bytes = 1L << 20, partition = Map("k" -> "400"),
        minBound = Map("k" -> "400"), maxBound = Map("k" -> "400"),
        seq = Some(Chunks + 1L))
    }
    val s2 = snap.copy(snapshotId = 2L, parentId = Some(1L),
      sequenceNumber = Chunks + 1L, operation = "append",
      files = snap.files ++ newFiles, manifests = snap.manifests)
    val meta2 = meta.copy(lastSequenceNumber = Chunks + 1L,
      currentSnapshotId = Some(2L), snapshots = meta.snapshots :+ s2,
      snapshotLog = meta.snapshotLog :+ SnapshotLogEntry(1723600001000L, 2L),
      refs = Map("main" -> Ref(2L, "branch")))
    val t0 = System.nanoTime()
    val v2 = ops.commit(v, meta2)
    val commitMs = (System.nanoTime() - t0) / 1e6
    // the commit must reuse every parent chunk untouched: zero chunk
    // loads, ONE new chunk file (the 40 new files) — and the 400
    // full-chunk stamps move OUT of metadata.json into ONE shared
    // content-addressed manifest-list file (both snapshots carry the
    // same stamps → same hash → one file), so the committed
    // metadata.json SHRINKS well below the inline-stamps original
    assert(ops.chunkLoads == 0, s"commit loaded ${ops.chunkLoads} chunks")
    val names = new java.io.File(s"$wh/p/bigt/metadata").listFiles().map(_.getName)
    val chunkFiles = names.count(n =>
      n.startsWith("manifest-") && !n.startsWith("manifest-list-"))
    val listFiles = names.count(_.startsWith("manifest-list-"))
    assert(chunkFiles == Chunks + 1, s"append wrote ${chunkFiles - Chunks} chunks, not 1")
    assert(listFiles == 1, s"both snapshots must share ONE stamp list, got $listFiles")
    val after = new java.io.File(ops.existingMetadataFile(v2).get).length
    assert(after < before / 4,
      s"metadata.json $before -> $after bytes: stamps not spilled to the list file")
    assert(commitMs < 2000, f"append commit took $commitMs%.0f ms at 20k files")

    // and the appended table reads back whole, still lazily
    ChunkCache.invalidateAll()
    val ops2 = new CountingOps(wh, "p/bigt")
    val snap2 = ops2.refresh().get._2.currentSnapshot.get
    assert(snap2.dataFileCount == Chunks * PerChunk + 40 && ops2.chunkLoads == 0)
    val tail = ops2.filesNewerThan(snap2, after = Chunks.toLong)
    assert(ops2.chunkLoads == 1 && tail.size == 40,
      s"new files must list by loading only their own chunk (loaded ${ops2.chunkLoads})")
    ChunkCache.invalidateAll()
  }

  test("genesis drain at 20k files: the state list materializes ONCE, every later trigger is O(1)") {
    // the fresh-start catch-up memoization claim as a measured number:
    // trigger 1 pays the one O(files) materialization + path sort
    // (exactly Chunks chunk loads); every subsequent admission over
    // the 400-file-per-trigger drain loads ZERO chunks and costs
    // sub-millisecond driver time — a 100 TB genesis drains in
    // thousands of triggers without re-listing the state each time
    TestSpark.spark
    val wh = synthesize()
    ChunkCache.invalidateAll()
    val ops = new CountingOps(wh, "p/bigt")
    val (v, meta) = ops.refresh().get
    val table = new graft.catalog.GraftTable("planscale",
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("p"), "bigt"),
      ops, meta, v)
    val opts = new java.util.HashMap[String, String]()
    opts.put("max-files-per-trigger", "400")
    val stream = new graft.catalog.GraftMicroBatchStream(table,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts),
      table.schema(), Nil)
    // the limit a real trigger passes back is the ADVERTISED one (the
    // configured caps); allAvailable() would now rightly mean uncapped
    val limit = stream.getDefaultReadLimit

    ops.chunkLoads = 0
    var off = stream.latestOffset(graft.catalog.SeqOffset(0L), limit)
      .asInstanceOf[graft.catalog.SeqOffset]
    assert(off == graft.catalog.SeqOffset(Chunks.toLong, 400),
      s"first trigger must admit the first 400 state files: $off")
    assert(ops.chunkLoads == Chunks,
      s"the one allowed O(files) materialization loaded ${ops.chunkLoads} != $Chunks chunks")

    ops.chunkLoads = 0
    var triggers = 0
    val t0 = System.nanoTime()
    while (off.fileIdx >= 0 && triggers < 100) {
      off = stream.latestOffset(off, limit).asInstanceOf[graft.catalog.SeqOffset]
      triggers += 1
    }
    val drainMs = (System.nanoTime() - t0) / 1e6
    assert(off == graft.catalog.SeqOffset(Chunks.toLong),
      s"drain must end at the pure-seq offset: $off after $triggers triggers")
    assert(triggers == Chunks * PerChunk / 400 - 1,
      s"20k files / 400 per trigger: $triggers remaining triggers")
    assert(ops.chunkLoads == 0,
      s"memoized drain re-loaded ${ops.chunkLoads} chunks")
    assert(drainMs < 2000,
      f"$triggers O(1) admissions took $drainMs%.0f ms — not O(1) per trigger")
    ChunkCache.invalidateAll()
  }

  test("drain memo envelope: O(unit-files) driver bytes while draining, freed at release") {
    // STREAMING.md's catch-up memory envelope as MEASURED numbers: the
    // drain memo holds exactly ONE path-sorted DataFile list for the
    // in-flight unit. At this spec's 20k-file scale: measure the
    // retained bytes and the per-file constant (so a 10M-file genesis
    // extrapolates to single-digit GBs, as documented), pin the memo
    // hit (the by-name loader must NOT re-evaluate), and prove
    // release() really frees the list — a weak reference is collected
    // once the memo was the last strong holder.
    val drain = new graft.catalog.SliceDrain
    def mkFiles(): Seq[DataFile] = (0 until Chunks * PerChunk).map { i =>
      val c = i / PerChunk
      DataFile(s"p/bigt/data/k=$c/f${i % PerChunk}.parquet", records = 1000L,
        bytes = 1L << 20, partition = Map("k" -> c.toString),
        minBound = Map("k" -> c.toString), maxBound = Map("k" -> c.toString),
        seq = Some(c + 1L))
    }
    // the strong references live in a nested frame that POPS before
    // the collection check: an interpreted/JIT frame can keep dead
    // locals (incl. expression temporaries) reachable until it exits,
    // which would fail the weak-ref assert spuriously
    def setupAndMeasure(): java.lang.ref.WeakReference[AnyRef] = {
      val list = drain.list(7L, graft.catalog.SliceOffsets.UnitState)(mkFiles())
      assert(list.size == Chunks * PerChunk)
      assert(drain.list(7L, graft.catalog.SliceOffsets.UnitState)(
        fail("memo miss re-materialized the in-flight unit")) eq list)
      val bytes = org.apache.spark.util.SizeEstimator.estimate(list)
      val perFile = bytes.toDouble / list.size
      info(f"memo envelope: $bytes%,d bytes for ${list.size}%,d files ($perFile%.0f B/file)")
      assert(perFile < 2048,
        f"memo holds $perFile%.0f B/file — the O(unit-files) envelope constant regressed")
      new java.lang.ref.WeakReference(list)
    }
    val weak = setupAndMeasure()
    // every weak.get deref stays in ITS OWN popped frame too: the
    // scalatest assert macro binds operand values to frame-local vals
    // (for diagrammed errors), which would pin the list in the test
    // body's frame and fail the collection check spuriously
    def stillHeld(): Boolean = weak.get != null
    System.gc()
    assert(stillHeld(),
      "memo must hold the unit list while the drain is in flight")
    drain.release()
    val deadline = System.currentTimeMillis() + 10000
    while (stillHeld() && System.currentTimeMillis() < deadline) {
      System.gc(); Thread.sleep(50)
    }
    assert(!stillHeld(),
      "released memo still strongly held — a driver leak at 100 TB drain scale")
  }

  test("streaming reader-factory creation materializes ZERO file lists on the 20k-file table") {
    // a micro-batch's reader factory needs schema/options/filters, not
    // paths (partitions carry their own files) — so building it must
    // cost O(metadata.json), never an O(head-files) manifest load per
    // trigger (it used to enumerate the head snapshot's full list)
    TestSpark.spark // delegate construction needs an active session
    val wh = synthesize()
    ChunkCache.invalidateAll()
    val ops = new CountingOps(wh, "p/bigt")
    val (v, meta) = ops.refresh().get
    val table = new graft.catalog.GraftTable("planscale",
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("p"), "bigt"),
      ops, meta, v)
    val stream = new graft.catalog.GraftMicroBatchStream(table,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap()),
      table.schema(), Nil)
    ops.chunkLoads = 0
    val t0 = System.nanoTime()
    assert(stream.createReaderFactory() != null)
    val factoryMs = (System.nanoTime() - t0) / 1e6
    assert(ops.chunkLoads == 0,
      s"factory creation materialized ${ops.chunkLoads} chunks of the head file list")
    assert(factoryMs < 2000, f"factory creation took $factoryMs%.0f ms")
    ChunkCache.invalidateAll()
  }

  test("the manifest file index over 100k files builds its maps once, not once per file") {
    // Spark's allFiles looks both maps up once per root path, and every
    // root path is one file: a map rebuilt per lookup made one allFiles
    // O(files²). Each map the index builds walks its statuses once
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val n = 100000
    val statuses = (0 until n).map(i => new FileStatus(1L << 20, false, 1, 134217728L, 0L,
      new Path(s"file:/tmp/graft_test_index/d${i % 100}/f$i.parquet")))
    var walks = 0
    val counted = new scala.collection.immutable.AbstractSeq[FileStatus] {
      def apply(i: Int): FileStatus = statuses(i)
      def length: Int = n
      override def iterator: Iterator[FileStatus] = { walks += 1; statuses.iterator }
    }
    val index = new org.apache.spark.sql.execution.datasources.GraftManifestIndex(
      TestSpark.spark, counted, StructType(Seq(StructField("x", LongType))))
    assert(index.allFiles().size == n)
    assert(index.inputFiles.length == n)
    assert(index.sizeInBytes == n.toLong << 20)
    assert(index.listFiles(Nil, Nil).map(_.files.size).sum == n)
    // root paths, the file map and the directory map: one walk each
    assert(walks <= 3, s"$walks walks over $n statuses")
  }
}
