package graft

import graft.catalog.{ChunkCache, TableOps}
import graft.meta.Manifest
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}
import org.scalatest.funsuite.AnyFunSuite

/** Lazy, range-keyed manifest loading (the scale fix for the one
  * O(all files) driver path left after round 7): a refresh no longer
  * materializes chunked file lists, scan planning loads ONLY the
  * chunks whose stamped range keys can match the pushed filters, and
  * loaded chunks are shared process-wide across refreshes — the
  * analog of Iceberg's manifest-list partition summaries
  * (reference README.md:96).
  */
class ManifestPruneSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def mkCatalog(name: String, wh: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", "graft.catalog.RelativeCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
  }

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_test_$tag"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    d
  }

  /** TableOps that counts how many chunk loads planning asked for. */
  private class CountingOps(wh: String, loc: String) extends TableOps(wh, loc) {
    var chunkLoads = 0
    override def loadChunk(m: Manifest): List[graft.meta.DataFile] = {
      chunkLoads += 1
      super.loadChunk(m)
    }
  }

  /** 10 partition-scoped appends of 5 files each (identity spec on k,
    * batch i covers k in [5i, 5i+4], chunk size 5) → every append-pair
    * spills value-tight chunks. Returns the table's warehouse. */
  private def buildChunkedTable(tag: String, cat: String): String = {
    val wh = freshDir(tag)
    mkCatalog(cat, wh)
    spark.sql(s"CREATE NAMESPACE $cat.p")
    spark.sql(s"CREATE TABLE $cat.p.t (k INT, v BIGINT) PARTITIONED BY (k) " +
      "TBLPROPERTIES ('write.metadata.manifest-chunk-size'='5')")
    for (i <- 0 until 10)
      spark.sql(s"INSERT INTO $cat.p.t " +
        s"SELECT CAST(id / 20 AS INT) AS k, id AS v FROM range(${i * 100}, ${i * 100 + 100})")
    wh
  }

  test("refresh is lazy; filtered planning loads only range-matching chunks") {
    val wh = buildChunkedTable("mfprune", "tmp1")
    val ops = new CountingOps(wh, "p/t")
    val (_, meta) = ops.refresh().get
    val snap = meta.currentSnapshot.get
    // layout sanity: the full list spilled into value-tight chunks
    assert(snap.manifests.size == 10 && snap.files.isEmpty,
      s"expected 10 chunks + empty inline, got ${snap.manifests.size}/${snap.files.size}")
    assert(ops.chunkLoads == 0, "refresh must not materialize any chunk")
    snap.manifests.foreach { m =>
      assert(m.minBound.contains("k") && m.maxBound.contains("k"),
        s"chunk ${m.path} missing k range keys")
      assert(m.minSeq.isDefined && m.maxSeq.isDefined && m.bytes > 0)
    }

    // point filter on the partition column → exactly ONE chunk read
    val hit = ops.filesMatching(snap, Seq(EqualTo("k", 37)))
    assert(ops.chunkLoads == 1,
      s"k=37 should load exactly 1 of 10 chunks, loaded ${ops.chunkLoads}")
    // candidates = the matching chunk's members (file-level pruning
    // narrows further, downstream)
    assert(hit.size == 5 && hit.exists(_.minBound("k") == "37"))
    assert(hit.forall(f => BigDecimal(f.minBound("k")) >= 35 &&
      BigDecimal(f.maxBound("k")) <= 39))

    // range filter spanning two chunks → exactly two loads more
    ops.chunkLoads = 0
    ChunkCache.invalidateAll()
    val range = ops.filesMatching(snap,
      Seq(GreaterThanOrEqual("k", 8), LessThan("k", 12)))
    assert(ops.chunkLoads == 2,
      s"k in [8,12) spans chunks [5..9],[10..14]; loaded ${ops.chunkLoads}")
    assert(range.size == 10)

    // no filter → everything (correctness floor)
    assert(ops.allFiles(snap).size == 50)
  }

  test("incremental + streaming listings prune by chunk seq keys") {
    val wh = buildChunkedTable("mfseq", "tmp2")
    val ops = new CountingOps(wh, "p/t")
    val snap = ops.refresh().get._2.currentSnapshot.get
    // files added by the LAST append carry seq 10; chunks frozen by
    // earlier commits have maxSeq < 10 and must not load
    val tail = ops.filesNewerThan(snap, after = 9L)
    assert(ops.chunkLoads == 1,
      s"only the chunk holding seq-10 files may load, got ${ops.chunkLoads}")
    assert(tail.count(_.seq.contains(10L)) == 5)
    ops.chunkLoads = 0
    val at = ops.filesAtSeq(snap, 10L).filter(_.seq.contains(10L))
    assert(at.size == 5 && ops.chunkLoads == 1)
  }

  test("chunk cache is shared across refreshes and table-ops instances") {
    val wh = buildChunkedTable("mfcache", "tmp3")
    val ops = new TableOps(wh, "p/t")
    val snap = ops.refresh().get._2.currentSnapshot.get
    assert(ops.allFiles(snap).size == 50)
    // physically remove the chunk files: a second materialization can
    // only succeed if it is served from the cache
    snap.manifests.foreach { m =>
      val abs = graft.meta.RelPaths.absolutize(wh, m.path)
      assert(new java.io.File(abs).delete(), s"couldn't delete $abs")
    }
    val ops2 = new TableOps(wh, "p/t")
    val again = ops2.allFiles(ops2.refresh().get._2.currentSnapshot.get)
    assert(again.size == 50, "cache must serve chunks across instances/refreshes")
  }

  test("pre-upgrade metadata (chunks without range keys) loads unpruned but sound") {
    // round-7 metadata spelled Manifest as {path, count} only; the new
    // pruning keys must default to "unknown -> always load", never
    // "no keys -> no matches"
    val wh = buildChunkedTable("mfcompat", "tmp5")
    val ops = new TableOps(wh, "p/t")
    val (v, meta) = ops.refresh().get
    // rewrite the CURRENT metadata file as an old writer produced it —
    // every stamp inline (no manifest list), no pruning key
    val p = ops.existingMetadataFile(v).get
    val json = graft.meta.TableMeta.toJson(
      meta.copy(snapshots = meta.snapshots.map(_.copy(manifestList = None))))
    val stripped = Seq("minBound", "maxBound", "minSeq", "maxSeq")
      .foldLeft(json)((j, k) => j.replace("\"" + k + "\"", "\"legacy_" + k + "\""))
    assert(stripped != json, "expected to strip pruning keys from metadata JSON")
    graft.catalog.Io.writeString(p, stripped)
    ChunkCache.invalidateAll()

    val ops2 = new CountingOps(wh, "p/t")
    val snap = ops2.refresh().get._2.currentSnapshot.get
    assert(snap.manifests.forall(m => m.minBound.isEmpty && m.minSeq.isEmpty))
    // a filtered scan must now load EVERY chunk (sound) and still
    // return the right candidates
    val hit = ops2.filesMatching(snap, Seq(EqualTo("k", 37)))
    assert(ops2.chunkLoads == snap.manifests.size,
      s"keyless chunks must all load; loaded ${ops2.chunkLoads}/${snap.manifests.size}")
    assert(hit.size == 50, "all files become candidates; file-level pruning narrows later")
    assert(ops2.filesNewerThan(snap, after = 9L).count(_.seq.contains(10L)) == 5)
  }

  test("chunk cache loads are single-flight per path, parallel across paths") {
    ChunkCache.invalidateAll()
    val loads = new java.util.concurrent.atomic.AtomicInteger
    val errs = new java.util.concurrent.atomic.AtomicInteger
    val threads = (1 to 16).map { i =>
      new Thread(() => {
        try {
          val v = ChunkCache.get(s"/synthetic/chunk-${i % 2}") {
            loads.incrementAndGet()
            Thread.sleep(20) // widen the in-flight window
            List(graft.meta.DataFile(s"f${i % 2}", records = 1L, bytes = 1L))
          }
          if (v.head.path != s"f${i % 2}") errs.incrementAndGet()
        } catch { case _: Throwable => errs.incrementAndGet() }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.get() == 0)
    assert(loads.get() == 2, s"each distinct path must load exactly once, got ${loads.get()}")
    ChunkCache.invalidate("/synthetic/chunk-0")
    ChunkCache.invalidate("/synthetic/chunk-1")
  }

  test("rewrite_manifests re-clusters overlapping chunks value-tight") {
    // every append spans the whole key range, so every chunk's k-range
    // overlaps every partition filter — the shape trickle ingest
    // produces, where planning-time pruning degrades to "load all"
    val wh = freshDir("mfrw")
    mkCatalog("tmp6", wh)
    spark.sql("CREATE NAMESPACE tmp6.p")
    spark.sql("CREATE TABLE tmp6.p.t (k INT, v BIGINT) PARTITIONED BY (k) " +
      "TBLPROPERTIES ('write.metadata.manifest-chunk-size'='10')")
    for (i <- 0 until 10)
      spark.sql(s"INSERT INTO tmp6.p.t " +
        s"SELECT CAST(id % 20 AS INT) AS k, id AS v FROM range(${i * 100}, ${i * 100 + 100})")
    val ops = new CountingOps(wh, "p/t")
    val snap0 = ops.refresh().get._2.currentSnapshot.get
    assert(snap0.manifests.size == 20, s"got ${snap0.manifests.size}")
    ops.filesMatching(snap0, Seq(EqualTo("k", 5)))
    assert(ops.chunkLoads >= 10,
      s"k=5 appears in every append; expected >=10 chunk loads, got ${ops.chunkLoads}")

    // single-snapshot history so the rewrite can reclaim every chunk
    graft.catalog.Maintenance.expireSnapshots(ops, keepLast = 1)
    assert(spark.sql("CALL tmp6.system.rewrite_manifests(tbl => 'p.t')")
      .collect()(0).getInt(0) == 20)

    val ops2 = new CountingOps(wh, "p/t")
    val snap1 = ops2.refresh().get._2.currentSnapshot.get
    assert(snap1.manifests.size == 20 && snap1.files.isEmpty)
    val hit = ops2.filesMatching(snap1, Seq(EqualTo("k", 5)))
    assert(ops2.chunkLoads == 1,
      s"value-tight chunks: expected 1 load for k=5, got ${ops2.chunkLoads}")
    assert(hit.size == 10 &&
      hit.forall(f => f.minBound("k") == "5" && f.maxBound("k") == "5"))
    // data identical through SQL
    assert(spark.sql("SELECT COUNT(*) AS n, SUM(v) AS s FROM tmp6.p.t").collect()(0) ==
      org.apache.spark.sql.Row(1000L, (0L until 1000L).sum))
    // dissolved chunk files physically reclaimed: only the 20 live ones
    // remain, plus the one list file naming them
    val mdNames = new java.io.File(s"$wh/p/t/metadata").listFiles().map(_.getName)
    val mdChunks = mdNames.count(n => n.startsWith("manifest-") && !n.startsWith("manifest-list-"))
    assert(mdChunks == 20, s"expected 20 chunk files after reclaim, got $mdChunks")
    assert(mdNames.count(_.startsWith("manifest-list-")) == 1)
  }

  test("delete lists spill to chunks: commit payload stays O(chunk)") {
    val wh = freshDir("mfdel")
    mkCatalog("tmp7", wh)
    spark.sql("CREATE NAMESPACE tmp7.p")
    spark.sql("CREATE TABLE tmp7.p.t (k INT, v BIGINT) TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read', 'write.metadata.manifest-chunk-size'='2')")
    spark.sql("INSERT INTO tmp7.p.t SELECT CAST(id % 10 AS INT) AS k, id AS v FROM range(1000)")
    for (i <- 0 until 5) // trickle MOR deletes stack position-delete files
      spark.sql(s"DELETE FROM tmp7.p.t WHERE v = $i")
    val ops = new TableOps(wh, "p/t")
    val (v, meta) = ops.refresh().get
    val snap = meta.currentSnapshot.get
    assert(snap.deleteFiles.size >= 5, s"got ${snap.deleteFiles.size}")
    assert(snap.deleteManifests.nonEmpty, "delete chunks must have spilled")
    // the JSON on disk carries no inline delete entry: the chunks hold
    // every one, in every retained snapshot
    val raw = graft.meta.TableMeta.fromJson(
      ops.readMetadataString(ops.existingMetadataFile(v).get))
    assert(raw.snapshots.forall(_.deleteFiles.isEmpty),
      s"inline delete entries: ${raw.snapshots.map(_.deleteFiles.size)}")
    val rawSnap = raw.currentSnapshot.get
    assert(rawSnap.deleteManifests.map(_.count).sum == snap.deleteFiles.size)
    // reads still subtract every delete; integrity sees the chunks
    assert(spark.sql("SELECT COUNT(*) FROM tmp7.p.t").collect()(0).getLong(0) == 995)
    assert(graft.catalog.Maintenance.verifyIntegrity(ops).isEmpty)
    // compaction settles deletes -> list and chunks both clear
    spark.sql("CALL tmp7.system.compact(tbl => 'p.t')")
    val snap2 = ops.refresh().get._2.currentSnapshot.get
    assert(snap2.deleteFiles.isEmpty && snap2.deleteManifests.isEmpty)
    assert(spark.sql("SELECT COUNT(*) FROM tmp7.p.t").collect()(0).getLong(0) == 995)
  }

  test("fuzz: chunk pruning never drops a file that file-level pruning keeps") {
    val wh = buildChunkedTable("mffuzz", "tmp8")
    val ops = new TableOps(wh, "p/t")
    val snap = ops.refresh().get._2.currentSnapshot.get
    val all = ops.allFiles(snap)
    val rnd = new scala.util.Random(42)
    import org.apache.spark.sql.sources._
    def randFilter(): Filter = rnd.nextInt(7) match {
      case 0 => EqualTo("k", rnd.nextInt(60) - 5)
      case 1 => GreaterThan("k", rnd.nextInt(60) - 5)
      case 2 => LessThan("k", rnd.nextInt(60) - 5)
      case 3 => In("k", Array.fill(3)(rnd.nextInt(60) - 5: Any))
      case 4 => And(GreaterThanOrEqual("k", rnd.nextInt(50)),
        LessThan("k", rnd.nextInt(50)))
      case 5 => Or(EqualTo("k", rnd.nextInt(50)), EqualTo("k", rnd.nextInt(50)))
      case _ => GreaterThan("v", (rnd.nextInt(1000) - 100).toLong) // non-key col
    }
    for (_ <- 1 to 300) {
      val fs = Seq.fill(1 + rnd.nextInt(2))(randFilter())
      val exact = all.filter(f => fs.forall(graft.catalog.FilePruning.keepFile(f, _)))
        .map(_.path).toSet
      val viaChunks = ops.filesMatching(snap, fs)
        .filter(f => fs.forall(graft.catalog.FilePruning.keepFile(f, _)))
        .map(_.path).toSet
      assert(viaChunks == exact,
        s"chunk pruning changed the survivor set for $fs: " +
          s"missing=${exact -- viaChunks}, extra=${viaChunks -- exact}")
    }
  }

  test("end-to-end: filtered SQL over a chunked table stays correct") {
    val wh = buildChunkedTable("mfsql", "tmp4")
    assert(spark.sql("SELECT COUNT(*) FROM tmp4.p.t WHERE k = 37").collect()(0).getLong(0) == 20)
    assert(spark.sql("SELECT SUM(v) FROM tmp4.p.t").collect()(0).getLong(0) ==
      (0L until 1000L).sum)
    assert(spark.sql("SELECT COUNT(*) FROM tmp4.p.t WHERE k >= 48").collect()(0).getLong(0) == 40)
    // DML over chunked metadata: only touched chunks dissolve, results exact
    spark.sql("DELETE FROM tmp4.p.t WHERE k = 3")
    assert(spark.sql("SELECT COUNT(*) FROM tmp4.p.t").collect()(0).getLong(0) == 980)
    assert(spark.sql("SELECT COUNT(*) FROM tmp4.p.t WHERE k = 3").collect()(0).getLong(0) == 0)
  }
}
