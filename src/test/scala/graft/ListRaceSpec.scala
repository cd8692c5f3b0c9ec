package graft

import graft.catalog.{ChunkCache, CommitFailedException, Io, ManifestListCache, TableOps}
import graft.meta._
import org.scalatest.funsuite.AnyFunSuite

/** Concurrency fuzz for content-addressed manifest-LIST reuse: many
  * writers serialize commits whose historic snapshots spill the SAME
  * stamp list (same content → same SHA-addressed name), racing
  * temp+rename-no-replace on one file while losers retry through OCC.
  * The invariant under test: a commit loss never deletes a list file
  * (the winner may own the same name), and no interleaving leaves a
  * torn or missing list — every history stays readable.
  */
class ListRaceSpec extends AnyFunSuite {

  private val Chunks = 64   // full chunks → every snapshot spills its stamps
  private val PerChunk = 50

  private def synthesize(): String = {
    val wh = "/tmp/graft_test_listrace"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val loc = "p/rt"
    val mdDir = s"$wh/$loc/metadata"
    Io.mkdirs(mdDir)
    val manifests = (0 until Chunks).toList.map { c =>
      val files = (0 until PerChunk).toList.map(i =>
        DataFile(s"$loc/data/k=$c/f$i.parquet", 1000L, 1L << 20,
          partition = Map("k" -> c.toString),
          minBound = Map("k" -> c.toString), maxBound = Map("k" -> c.toString),
          seq = Some(c + 1L)))
      val fname = s"manifest-synth-$c.json"
      Io.writeString(s"$mdDir/$fname", TableMeta.manifestToJson(files))
      Manifest(s"$loc/metadata/$fname", PerChunk,
        minBound = Map("k" -> c.toString), maxBound = Map("k" -> c.toString),
        minSeq = Some(c + 1L), maxSeq = Some(c + 1L), bytes = PerChunk.toLong << 20)
    }
    val intJson = org.apache.spark.sql.types.IntegerType.json
    val meta0 = TableMeta(1, java.util.UUID.randomUUID().toString, loc, Chunks.toLong,
      1723600000000L, 2, 0,
      List(SchemaDef(0, List(FieldDef(1, "k", intJson, required = false)))),
      0, List(PartSpec(0, List(PartField(1, 1000, "k", "identity")))),
      1000, 0, Nil,
      Map("write.metadata.manifest-chunk-size" -> PerChunk.toString),
      Some(1L),
      List(Snapshot(1L, None, Chunks.toLong, 1723600000000L, "append",
        Map.empty, files = Nil, manifests = manifests)),
      List(SnapshotLogEntry(1723600000000L, 1L)), Nil,
      Map("main" -> Ref(1L, "branch")))
    Io.writeString(s"$mdDir/v1.metadata.json", TableMeta.toJson(meta0))
    Io.writeString(s"$mdDir/version-hint.text", "1")
    wh
  }

  test("8-writer spill/commit fuzz: no torn or missing list file, every history readable") {
    val wh = synthesize()
    ChunkCache.invalidateAll()
    ManifestListCache.invalidateAll()
    val Writers = 8
    val Rounds = 5
    val snapIds = new java.util.concurrent.atomic.AtomicLong(1L)
    val barrier = new java.util.concurrent.CyclicBarrier(Writers)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until Writers).map { w =>
      new Thread(() => {
        try {
          // per-thread TableOps: separate version caches, same files —
          // the multi-process writer shape
          val ops = new TableOps(wh, "p/rt")
          for (r <- 0 until Rounds) {
            barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
            var committed = false
            var attempts = 0
            while (!committed) {
              attempts += 1
              assert(attempts <= 50, s"writer $w round $r: livelock")
              val (v, meta) = ops.refresh().get
              val snap = meta.currentSnapshot.get
              val sid = snapIds.incrementAndGet()
              val seq = meta.lastSequenceNumber + 1
              val nf = (0 until 10).toList.map(i =>
                DataFile(s"p/rt/data/k=999/w$w-r$r-$i.parquet", 100L, 1L << 18,
                  partition = Map("k" -> "999"), minBound = Map("k" -> "999"),
                  maxBound = Map("k" -> "999"), seq = Some(seq)))
              val s2 = snap.copy(snapshotId = sid, parentId = Some(snap.snapshotId),
                sequenceNumber = seq, files = snap.files ++ nf,
                manifests = snap.manifests)
              val m2 = meta.copy(lastSequenceNumber = seq,
                currentSnapshotId = Some(sid), snapshots = meta.snapshots :+ s2,
                snapshotLog = meta.snapshotLog :+ SnapshotLogEntry(1723600000000L + sid, sid),
                refs = Map("main" -> Ref(sid, "branch")))
              try { ops.commit(v, m2); committed = true }
              catch { case _: CommitFailedException => () } // loser: refresh + retry
            }
          }
        } catch { case t: Throwable => failures.add(t) }
      }, s"list-race-$w")
    }
    threads.foreach(_.start())
    threads.foreach(_.join(180000))
    assert(threads.forall(!_.isAlive), "fuzz writer hung")
    assert(failures.isEmpty, s"writer failed: ${Option(failures.peek()).map(_.toString)}")

    // every list file on disk parses whole — a torn file at a
    // content-addressed name would be served verbatim forever
    val mdDir = new java.io.File(s"$wh/p/rt/metadata")
    val lists = mdDir.listFiles().filter(_.getName.startsWith("manifest-list-"))
    assert(lists.nonEmpty, "fuzz never spilled a list")
    lists.foreach { f =>
      val stamps = TableMeta.stampsFromJson(Io.readString(f.getPath))
      assert(stamps.nonEmpty, s"torn/empty list file ${f.getName}")
    }

    // cold re-read: all 40 commits landed, every snapshot materializes
    ChunkCache.invalidateAll()
    ManifestListCache.invalidateAll()
    val ops = new TableOps(wh, "p/rt")
    val (_, meta) = ops.refresh().get
    assert(meta.snapshots.size == 1 + Writers * Rounds,
      s"expected ${1 + Writers * Rounds} snapshots, got ${meta.snapshots.size}")
    assert(meta.currentSnapshot.get.dataFileCount ==
      Chunks * PerChunk + Writers * Rounds * 10)
    // every referenced list resolves (nothing a loser "cleaned up")
    meta.snapshots.foreach { s =>
      assert(s.manifests.nonEmpty, s"snapshot ${s.snapshotId} lost its stamps")
      assert(ops.allFiles(s).nonEmpty)
    }
    // every RETAINED metadata version stays readable too (the commit
    // path prunes old version files; commits are counted by the final
    // version number) — each parses and its snapshots materialize
    // through their lists
    val versions = mdDir.listFiles().map(_.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".metadata.json"))
    assert(versions.map(_.stripPrefix("v").takeWhile(_.isDigit).toInt).max ==
      1 + Writers * Rounds, "a commit was lost without a retry landing")
    versions.foreach { n =>
      val m = ops.parseMeta(Io.readString(s"${mdDir.getPath}/$n"))
      m.snapshots.foreach(s => assert(s.manifests.nonEmpty, s"$n: empty stamps"))
    }
  }
}
