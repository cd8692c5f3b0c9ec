package graft

import graft.catalog.{CommitFailedException, CommitLock, Io, TableOps}
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Non-posix warehouse support: a `file://` URI warehouse routed
  * entirely through the Hadoop FileSystem API — the offline sandbox's
  * honest proxy for `s3a://` / `hdfs://` (ref HadoopRelativeCatalog
  * resolves an FS per warehouse URI, :84-91; README.md:112-121 sells
  * exactly this posix→object-store relocation). Also covers the
  * checksum knobs (ref :45-48) and the pluggable commit-lock seam
  * (ref renameToFinal:346-376 LockManager).
  */
class HadoopFsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_test_$tag"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    d
  }

  test("file:// URI warehouse: DDL + DML + maintenance end-to-end through Hadoop FS") {
    val local = freshDir("hfs_e2e")
    spark.conf.set("spark.sql.catalog.hfs", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.hfs.warehouse", s"file://$local")
    spark.sql("CREATE NAMESPACE hfs.n")
    assert(spark.sql("SHOW NAMESPACES IN hfs").collect().map(_.getString(0)).contains("n"))
    // partitioned table: exercises the fanout writer + footer stats
    // over the FS-backed staging dir
    spark.sql("CREATE TABLE hfs.n.t (id BIGINT, k INT, v DOUBLE) PARTITIONED BY (k)")
    spark.sql("INSERT INTO hfs.n.t SELECT id, CAST(id % 4 AS INT), id * 0.5 FROM range(2000)")
    assert(spark.sql("SELECT COUNT(*) FROM hfs.n.t").collect()(0).getLong(0) == 2000)
    assert(spark.sql("SELECT COUNT(*) FROM hfs.n.t WHERE k = 2").collect()(0).getLong(0) == 500)
    // row-level DML (COW rewrite) through the same FS
    spark.sql("UPDATE hfs.n.t SET v = 0 WHERE k = 3")
    assert(spark.sql("SELECT SUM(v) FROM hfs.n.t WHERE k = 3").collect()(0).getDouble(0) == 0.0)
    spark.sql("DELETE FROM hfs.n.t WHERE id < 100")
    assert(spark.sql("SELECT COUNT(*) FROM hfs.n.t").collect()(0).getLong(0) == 1900)
    // snapshots accumulated; expire + verify through FS walks
    import org.apache.spark.sql.connector.catalog.Identifier
    val cat = spark.sessionState.catalogManager.catalog("hfs")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    val tbl = cat.loadTable(Identifier.of(Array("n"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]
    assert(graft.catalog.Maintenance.verifyIntegrity(tbl.ops).isEmpty)
    assert(graft.catalog.Maintenance.expireSnapshots(tbl.ops, keepLast = 1) >= 0)
    assert(spark.sql("SELECT COUNT(*) FROM hfs.n.t").collect()(0).getLong(0) == 1900)
    // orphan vacuum walks the FS: plant debris, reclaim it
    Io.writeString(s"file://$local/n/t/data/orphan-debris.parquet", "junk")
    assert(graft.catalog.Maintenance.removeOrphanFiles(tbl.ops,
      olderThanMs = System.currentTimeMillis() + 60000) == 1)
    assert(!Io.exists(s"file://$local/n/t/data/orphan-debris.parquet"))
    assert(spark.sql("SELECT COUNT(*) FROM hfs.n.t").collect()(0).getLong(0) == 1900)
    // metadata on disk is plain files under the local dir (the URI and
    // the posix path address the same bytes)
    assert(Files.exists(Paths.get(s"$local/n/t/metadata/version-hint.text")))
    // nothing absolute leaked into metadata (relocation invariant)
    val ops = new TableOps(s"file://$local", "n/t")
    val (v, meta) = ops.refresh().get
    val allFiles = meta.snapshots.flatMap(ops.allFiles)
    assert(allFiles.nonEmpty)
    allFiles.foreach(f => assert(!f.path.contains(":/"), f.path))
    // merge-on-read DML: position-delete keys must relativize the
    // URI-spelled _metadata.file_path against the URI warehouse
    spark.sql("CREATE TABLE hfs.n.mor (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read', 'write.update.mode'='merge-on-read')")
    spark.sql("INSERT INTO hfs.n.mor SELECT id, CONCAT('v', id) FROM range(1000)")
    spark.sql("DELETE FROM hfs.n.mor WHERE id % 10 = 3")
    assert(spark.sql("SELECT COUNT(*) FROM hfs.n.mor").collect()(0).getLong(0) == 900)
    spark.sql("UPDATE hfs.n.mor SET v = 'x' WHERE id < 50")
    assert(spark.sql("SELECT COUNT(*) FROM hfs.n.mor WHERE v = 'x'")
      .collect()(0).getLong(0) == 45)
    val morTbl = cat.loadTable(Identifier.of(Array("n"), "mor"))
      .asInstanceOf[graft.catalog.GraftTable]
    assert(morTbl.readSnapshot.get.deleteFiles.nonEmpty,
      "DML must have gone merge-on-read (delete files present)")

    // views round-trip through the FS too (API-driven: Spark 4.1's
    // CREATE VIEW DDL only routes to the session catalog)
    val vid = Identifier.of(Array("n"), "big")
    cat.createView(new org.apache.spark.sql.connector.catalog.ViewInfo(
      vid, "SELECT 1 AS x", "hfs", Array("n"),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.IntegerType))),
      Array("x"), Array.empty, Array.empty, new java.util.HashMap[String, String]()))
    assert(cat.viewExists(vid) && cat.loadView(vid).query() == "SELECT 1 AS x")
    assert(cat.dropView(vid))
  }

  test("relocation posix -> file:// URI: mv the dir, open via the FS route") {
    val whA = freshDir("hfs_relocA")
    spark.conf.set("spark.sql.catalog.hfsA", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.hfsA.warehouse", whA) // plain posix
    spark.sql("CREATE NAMESPACE hfsA.m")
    spark.sql("CREATE TABLE hfsA.m.t (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO hfsA.m.t SELECT id, id * 1.5 FROM range(1000)")
    val before = spark.sql("SELECT SUM(id) AS s, COUNT(*) AS n FROM hfsA.m.t").collect()(0)

    val whB = freshDir("hfs_relocB")
    Files.move(Paths.get(whA), Paths.get(whB))

    // reopen THROUGH THE HADOOP FS API — the posix→non-posix move the
    // reference's relative paths exist for
    spark.conf.set("spark.sql.catalog.hfsB", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.hfsB.warehouse", s"file://$whB")
    val after = spark.sql("SELECT SUM(id) AS s, COUNT(*) AS n FROM hfsB.m.t").collect()(0)
    assert(before == after)
    spark.sql("INSERT INTO hfsB.m.t VALUES (10000, 1.0)")
    assert(spark.sql("SELECT COUNT(*) FROM hfsB.m.t").collect()(0).getLong(0) == 1001)
  }

  test("URI-warehouse commit is atomic: racing committers serialize, one version each") {
    val local = freshDir("hfs_race")
    val wh = s"file://$local"
    spark.conf.set("spark.sql.catalog.hfsR", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.hfsR.warehouse", wh)
    spark.sql("CREATE NAMESPACE hfsR.r")
    spark.sql("CREATE TABLE hfsR.r.t (id BIGINT)") // commits v1
    val mk = () => new TableOps(wh, "r/t")
    // 8 threads × 5 commits each race through the lock+rename CAS
    val errs = new java.util.concurrent.atomic.AtomicInteger
    val threads = (1 to 8).map { _ =>
      new Thread(() => {
        val ops = mk()
        var done = 0
        while (done < 5) {
          val (v, m) = ops.refresh().get
          try { ops.commit(v, m.copy(lastUpdatedMs = System.nanoTime())); done += 1 }
          catch {
            case _: CommitFailedException => // lost the race; retry
            case _: Throwable => errs.incrementAndGet(); done += 1
          }
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.get() == 0, "non-CommitFailed errors during the race")
    // exactly 1 + 40 versions committed, densely numbered
    assert(mk().refresh().get._1 == 41)
  }

  test("lock-only commit mode survives a non-atomic rename primitive") {
    // commit.rename-atomic=false models s3a/gs/abfs: rename is a dumb
    // check-then-copy that CLOBBERS a concurrent winner. Correctness
    // must come from CommitLock mutual exclusion + the exists re-check
    // inside the critical section alone (ref LockManager double-guard,
    // HadoopRelativeTableOperations.java:346-376).
    val local = freshDir("hfs_lockonly")
    val wh = s"file://$local"
    spark.conf.set("spark.sql.catalog.hfsL", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.hfsL.warehouse", wh)
    spark.sql("CREATE NAMESPACE hfsL.r")
    spark.sql("CREATE TABLE hfsL.r.t (id BIGINT)") // commits v1
    val props = new java.util.HashMap[String, String]()
    props.put("commit.rename-atomic", "false")
    // worst-case rename, s3a-faithful: the copied object appears
    // atomically (PUT semantics) but the exists probe → copy window is
    // wide open and the copy CLOBBERS — any two committers that both
    // enter this method concurrently WILL lose one commit.
    val sharedLock = new graft.catalog.FileCommitLock
    def mk(): TableOps = new TableOps(wh, "r/t", props) {
      override protected lazy val commitLock: CommitLock = sharedLock
      override protected def finalizeRename(tmp: String, target: String): Boolean = {
        if (Io.exists(target)) return false
        Thread.sleep(2)
        Io.renameReplace(tmp, target) // atomic visibility, NO no-replace guard
        true
      }
    }
    val errs = new java.util.concurrent.atomic.AtomicInteger
    val threads = (1 to 8).map { _ =>
      new Thread(() => {
        val ops = mk()
        var done = 0
        while (done < 5) {
          val (v, m) = ops.refresh().get
          try { ops.commit(v, m.copy(lastUpdatedMs = System.nanoTime())); done += 1 }
          catch {
            case _: CommitFailedException => // lost the race; retry
            case _: Throwable => errs.incrementAndGet(); done += 1
          }
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.get() == 0, "non-CommitFailed errors during the lock-only race")
    assert(mk().refresh().get._1 == 41, "all 40 racing commits must land, none lost")

    // and WITHOUT a lock, lock-only mode refuses to run rather than
    // silently risking a lost commit
    val noLock = new TableOps(wh, "r/t", props) {
      override protected lazy val commitLock: CommitLock = graft.catalog.NoopCommitLock
    }
    val (v, m) = noLock.refresh().get
    val ex = intercept[CommitFailedException](noLock.commit(v, m))
    assert(ex.getMessage.contains("commit.lock-impl"))
  }

  test("fs.write-checksum / fs.verfiy-checksum reach the warehouse FileSystem") {
    // LocalFileSystem is a ChecksumFileSystem: with write-checksums ON
    // (ref default) every metadata write leaves a .crc sidecar; the
    // catalog property must switch that off on the SHARED fs instance
    // (exactly ref HadoopRelativeCatalog.java:45-48,88-91).
    val on = freshDir("hfs_crc_on")
    spark.conf.set("spark.sql.catalog.crcOn", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.crcOn.warehouse", s"file://$on")
    spark.sql("CREATE NAMESPACE crcOn.c")
    spark.sql("CREATE TABLE crcOn.c.t (id BIGINT)")
    val mdOn = Paths.get(s"$on/c/t/metadata")
    assert(Files.list(mdOn).iterator().asScala.exists(_.getFileName.toString.endsWith(".crc")),
      "default (ref parity): checksummed writes leave .crc sidecars")

    val off = freshDir("hfs_crc_off")
    spark.conf.set("spark.sql.catalog.crcOff", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.crcOff.warehouse", s"file://$off")
    spark.conf.set("spark.sql.catalog.crcOff.fs.write-checksum", "false")
    spark.conf.set("spark.sql.catalog.crcOff.fs.verfiy-checksum", "false")
    spark.sql("CREATE NAMESPACE crcOff.c")
    spark.sql("CREATE TABLE crcOff.c.t (id BIGINT)")
    val mdOff = Paths.get(s"$off/c/t/metadata")
    assert(!Files.list(mdOff).iterator().asScala.exists(_.getFileName.toString.endsWith(".crc")),
      "fs.write-checksum=false must reach setWriteChecksum on the warehouse FS")

    // restore the shared-instance default for later suites
    Io.fs(s"file://$on").setWriteChecksum(true)
    Io.fs(s"file://$on").setVerifyChecksum(true)
  }

  test("gzip metadata codec round-trips through the FS streams") {
    val local = freshDir("hfs_gz")
    spark.conf.set("spark.sql.catalog.hgz", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.hgz.warehouse", s"file://$local")
    spark.sql("CREATE NAMESPACE hgz.g")
    spark.sql("CREATE TABLE hgz.g.t (id BIGINT) " +
      "TBLPROPERTIES ('write.metadata.compression-codec'='gzip')")
    spark.sql("INSERT INTO hgz.g.t SELECT id FROM range(50)")
    spark.sql("INSERT INTO hgz.g.t SELECT id FROM range(50, 80)")
    assert(spark.sql("SELECT COUNT(*) FROM hgz.g.t").collect()(0).getLong(0) == 80)
    // versions ≥2 are gz-spelled on disk and read back via Io streams
    val names = Io.listNames(s"file://$local/g/t/metadata")
    assert(names.exists(_.endsWith(".gz.metadata.json")), s"$names")
    val ops = new TableOps(s"file://$local", "g/t")
    assert(ops.allFiles(ops.refresh().get._2.currentSnapshot.get).nonEmpty)
  }

  test("pluggable commit lock: a configured distributed-lock impl wraps every rename") {
    RecordingLock.events.clear()
    val wh = freshDir("hfs_lock")
    spark.conf.set("spark.sql.catalog.lk", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.lk.warehouse", s"file://$wh")
    spark.conf.set("spark.sql.catalog.lk.commit.lock-impl", "graft.RecordingLock")
    spark.sql("CREATE NAMESPACE lk.l")
    spark.sql("CREATE TABLE lk.l.t (id BIGINT)")
    spark.sql("INSERT INTO lk.l.t VALUES (1), (2)")
    val evs = RecordingLock.events.asScala.toList
    assert(evs.nonEmpty, "lock must be exercised by commits")
    // strictly alternating acquire/release on metadata version targets
    evs.grouped(2).foreach {
      case List(a, r) =>
        assert(a.startsWith("acquire:") && r.startsWith("release:"))
        assert(a.stripPrefix("acquire:") == r.stripPrefix("release:"))
        assert(a.contains(".metadata.json"))
      case other => fail(s"unpaired lock events: $other")
    }
    assert(evs.exists(_.contains("v2.metadata.json")), "the INSERT's commit is guarded")
  }
}

/** Fake distributed lock for the seam test — records acquire/release
  * order; grants always (single-process test). */
class RecordingLock extends CommitLock {
  override def acquire(entity: String, owner: String): Boolean = {
    RecordingLock.events.add(s"acquire:$entity"); true
  }
  override def release(entity: String, owner: String): Boolean = {
    RecordingLock.events.add(s"release:$entity"); true
  }
}

object RecordingLock {
  val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
