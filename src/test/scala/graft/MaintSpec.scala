package graft

import graft.TestSpark.TableFiles
import graft.catalog.{CommitConflictException, Maintenance, TableOps}
import graft.meta.RelPaths
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.connector.catalog.{Identifier, ViewInfo}
import org.scalatest.funsuite.AnyFunSuite

/** Maintenance (expire/compact — C16 analogs) and the ViewCatalog API
  * round-trip (C10).
  */
class MaintSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("compact + expire: fewer files, fewer snapshots, orphans deleted, data intact") {
    val wh = "/tmp/graft_test_maint"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcM", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcM.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcM.m")
    spark.sql("CREATE TABLE tcM.m.t (id BIGINT)")
    (0 until 4).foreach(i =>
      spark.sql(s"INSERT INTO tcM.m.t SELECT id FROM range(${i * 100}, ${i * 100 + 100})"))

    val cat = spark.sessionState.catalogManager.catalog("tcM")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    def table = cat.loadTable(Identifier.of(Array("m"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]

    val filesBefore = table.currentFiles
    assert(filesBefore.size >= 4)
    assert(table.meta.snapshots.size == 4)

    Maintenance.compact(spark, table, targetFiles = 1)
    val afterCompact = table
    assert(afterCompact.currentFiles.size == 1)
    assert(spark.sql("SELECT COUNT(*), SUM(id) FROM tcM.m.t").collect()(0)
      .toSeq == Seq(400L, (0L until 400L).sum))

    val ops = new TableOps(wh, "m/t")
    val deleted = Maintenance.expireSnapshots(ops, keepLast = 1)
    assert(deleted == filesBefore.size, s"expected ${filesBefore.size} orphans, deleted $deleted")
    filesBefore.foreach(f =>
      assert(!Files.exists(Paths.get(RelPaths.absolutize(wh, f.path))), s"orphan ${f.path} survived"))
    val metaAfter = ops.refresh().get._2
    assert(metaAfter.snapshots.size == 1)
    assert(spark.sql("SELECT COUNT(*) FROM tcM.m.t").collect()(0).getLong(0) == 400)
  }

  test("age-based expiry keeps recent+pinned snapshots; vacuum removes orphan debris") {
    val wh = "/tmp/graft_test_agexp"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcAge", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcAge.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcAge.a")
    spark.sql("CREATE TABLE tcAge.a.t (id BIGINT)")
    spark.sql("INSERT INTO tcAge.a.t VALUES (1)")
    spark.sql("INSERT OVERWRITE tcAge.a.t VALUES (2)")
    spark.sql("INSERT INTO tcAge.a.t VALUES (3)")
    val ops = new graft.catalog.TableOps(wh, "a/t")
    assert(ops.refresh().get._2.snapshots.size == 3)
    // cutoff in the future expires everything except current
    val removed = graft.catalog.Maintenance.expireOlderThan(
      ops, System.currentTimeMillis() + 60000)
    assert(removed >= 1)
    val meta = ops.refresh().get._2
    assert(meta.snapshots.size == 1 && meta.currentSnapshotId.isDefined)
    assert(spark.sql("SELECT COUNT(*) FROM tcAge.a.t").collect()(0).getLong(0) == 2)

    // plant orphan debris (a crashed writer's staging leftovers), then
    // vacuum: the orphan goes, referenced files stay
    val debris = java.nio.file.Paths.get(wh, "a", "t", "data", "crashed", "part-0.parquet")
    java.nio.file.Files.createDirectories(debris.getParent)
    java.nio.file.Files.write(debris, Array[Byte](1, 2, 3))
    val vacuumed = graft.catalog.Maintenance.removeOrphanFiles(
      ops, System.currentTimeMillis() + 60000)
    assert(vacuumed == 1, s"expected exactly the planted orphan, removed $vacuumed")
    assert(!java.nio.file.Files.exists(debris))
    assert(spark.sql("SELECT COUNT(*) FROM tcAge.a.t").collect()(0).getLong(0) == 2)
  }

  test("computeStats commits a statistics slot; $stats serves it") {
    val wh = "/tmp/graft_test_stats"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcS", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcS.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcS.s")
    spark.sql("CREATE TABLE tcS.s.t (id BIGINT, grp STRING)")
    spark.sql("INSERT INTO tcS.s.t SELECT id, " +
      "CASE WHEN id % 10 = 0 THEN NULL ELSE CONCAT('g', id % 7) END FROM range(1000)")
    val cat = spark.sessionState.catalogManager.catalog("tcS")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    def table = cat.loadTable(Identifier.of(Array("s"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]
    // empty before a stats pass
    assert(spark.sql("SELECT * FROM tcS.s.`t$stats`").count() == 0)
    Maintenance.computeStats(spark, table)
    val rows = spark.sql(
      "SELECT column_name, ndv, null_count, total_records FROM tcS.s.`t$stats` ORDER BY column_name")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq("grp", "id"))
    assert(rows.forall(_._4 == 1000L))
    val grp = rows(0); val id = rows(1)
    assert(grp._3 == 100L, s"grp null_count ${grp._3}")
    assert(id._3 == 0L)
    // NDV is a sketch (HLL++, rsd=0.05): exact counts here are 7 and
    // 1000 (the DELETE below has not run yet); allow 3*rsd relative error
    assert(math.abs(grp._2 - 7L) <= 1, s"grp ndv ${grp._2}")
    assert(math.abs(id._2 - 1000L) <= 150, s"id ndv ${id._2}")
    // the slot is pinned to the snapshot it described
    val st = table.meta.statistics.get
    assert(st.snapshotId == table.readSnapshot.get.snapshotId)
    assert(st.totalBytes > 0)
    // MOR deletes are applied by the stats scan
    spark.sql("ALTER TABLE tcS.s.t SET TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql("DELETE FROM tcS.s.t WHERE id < 100")
    Maintenance.computeStats(spark, table)
    val n2 = spark.sql("SELECT MAX(total_records) FROM tcS.s.`t$stats`").collect()(0).getLong(0)
    assert(n2 == 900L, s"stats after MOR delete: $n2")
  }

  test("days() partition transform + sort-order property shape the written files") {
    val wh = "/tmp/graft_test_days"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcDay", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcDay.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcDay.d")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      spark.sql(
        """CREATE TABLE tcDay.d.ev (ts TIMESTAMP_NTZ, user_id BIGINT)
          |PARTITIONED BY (days(ts))
          |TBLPROPERTIES ('sort-order' = 'user_id asc')""".stripMargin)
      Tables(spark, TestSpark.sf, "events").createOrReplaceTempView("ev_src")
      spark.sql("INSERT INTO tcDay.d.ev SELECT ts, user_id FROM ev_src")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(spark.sql("SELECT COUNT(*) FROM tcDay.d.ev").collect()(0).getLong(0) ==
      Tables(spark, TestSpark.sf, "events").count())
    val cat = spark.sessionState.catalogManager.catalog("tcDay")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    val tbl = cat.loadTable(Identifier.of(Array("d"), "ev"))
      .asInstanceOf[graft.catalog.GraftTable]
    assert(tbl.partitioning().map(_.toString).toSeq == Seq("days(ts)"))
    assert(tbl.meta.sortOrders.exists(_.fields.nonEmpty))
    val files = tbl.currentFiles
    assert(files.size > 1)
    // day-clustered writes → per-file ts ranges must not all overlap:
    // distinct (min-day) values across files should be > 1
    val minDays = files.flatMap(_.minBound.get("ts")).map(_.take(10)).distinct
    assert(minDays.size > 1, s"files not day-clustered: $minDays")

    // partition statistics: the stats pass rolls up exact per-day
    // record counts (and attributed bytes) served via $partitions
    graft.catalog.Maintenance.computeStats(spark, tbl)
    val prt = spark.sql(
      "SELECT partition, record_count, file_count, total_bytes FROM tcDay.d.`ev$partitions`")
      .collect()
    assert(prt.length > 1, "expected one $partitions row per day")
    assert(prt.forall(r => r.getLong(2) >= 1 && r.getLong(3) > 0))
    val statMap = prt.map(r => r.getString(0).split("=")(1) -> r.getLong(1)).toMap
    val exact = spark.sql(
      """SELECT CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS STRING) AS d,
        |COUNT(*) AS n FROM tcDay.d.ev GROUP BY 1""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(statMap == exact, s"partition stats $statMap != exact $exact")
  }

  test("tags pin snapshots: readable via VERSION AS OF name, survive expiry") {
    val wh = "/tmp/graft_test_refs"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcRef", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcRef.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcRef.r")
    spark.sql("CREATE TABLE tcRef.r.t (id BIGINT)")
    spark.sql("INSERT INTO tcRef.r.t SELECT id FROM range(10)")
    val ops = new TableOps(wh, "r/t")
    Maintenance.createRef(ops, "v1_release", "tag")
    spark.sql("INSERT INTO tcRef.r.t SELECT id FROM range(10, 50)")
    spark.sql("INSERT INTO tcRef.r.t SELECT id FROM range(50, 60)")
    assert(spark.sql("SELECT COUNT(*) FROM tcRef.r.t VERSION AS OF 'v1_release'")
      .collect()(0).getLong(0) == 10)
    assert(spark.sql("SELECT COUNT(*) FROM tcRef.r.t").collect()(0).getLong(0) == 60)
    // expiry keeps the tagged snapshot alive
    Maintenance.expireSnapshots(ops, keepLast = 1)
    assert(spark.sql("SELECT COUNT(*) FROM tcRef.r.t VERSION AS OF 'v1_release'")
      .collect()(0).getLong(0) == 10)
    assert(spark.sql("SELECT COUNT(*) FROM tcRef.r.t").collect()(0).getLong(0) == 60)
  }

  test("write-audit-publish: branch writes stay invisible until fast-forward") {
    val wh = "/tmp/graft_test_wap"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcWap", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcWap.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcWap.w")
    spark.sql("CREATE TABLE tcWap.w.t (id BIGINT)")
    spark.sql("INSERT INTO tcWap.w.t SELECT id FROM range(100)")
    val cat = spark.sessionState.catalogManager.catalog("tcWap")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    def tbl = cat.loadTable(Identifier.of(Array("w"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]
    // stage 2 audit batches on a branch
    import spark.implicits._
    Maintenance.appendToBranch(tbl, (100L until 150L).toDF("id"), "audit")
    Maintenance.appendToBranch(tbl, (150L until 200L).toDF("id"), "audit")
    // main untouched; branch readable; audit chain is cumulative
    assert(spark.sql("SELECT COUNT(*) FROM tcWap.w.t").collect()(0).getLong(0) == 100)
    assert(spark.sql("SELECT COUNT(*) FROM tcWap.w.t VERSION AS OF 'audit'")
      .collect()(0).getLong(0) == 200)
    // publish
    Maintenance.fastForward(new TableOps(wh, "w/t"), "audit")
    assert(spark.sql("SELECT COUNT(*) FROM tcWap.w.t").collect()(0).getLong(0) == 200)
  }

  test("ref retention: aged-out tags/branches stop pinning snapshots; main never ages") {
    val wh = "/tmp/graft_test_refage"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcRa", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcRa.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcRa.r")
    spark.sql("CREATE TABLE tcRa.r.t (id BIGINT)")
    spark.sql("INSERT INTO tcRa.r.t SELECT id FROM range(10)")
    // short-lived tag on the first snapshot; unaged branch beside it
    spark.sql("CALL tcRa.system.create_ref(tbl => 'r.t', ref => 'nightly', " +
      "ref_type => 'tag', max_ref_age_ms => 1)")
    spark.sql("CALL tcRa.system.create_ref(tbl => 'r.t', ref => 'keepme', ref_type => 'branch')")
    spark.sql("INSERT INTO tcRa.r.t SELECT id FROM range(10, 20)")
    spark.sql("INSERT INTO tcRa.r.t SELECT id FROM range(20, 30)")
    Thread.sleep(30) // the tag's target snapshot is now well past 1 ms old

    val ops = new TableOps(wh, "r/t")
    val refsBefore = ops.refresh().get._2
    assert(refsBefore.refs.keySet == Set("main", "nightly", "keepme"))
    assert(refsBefore.refs("nightly").maxRefAgeMs.contains(1L))
    Maintenance.expireSnapshots(ops, keepLast = 1)

    val after = ops.refresh().get._2
    // the aged tag is gone AND its snapshot became expirable; the
    // unaged branch still pins its target; main is untouched
    assert(after.refs.keySet == Set("main", "keepme"), s"${after.refs.keySet}")
    assert(after.snapshots.map(_.snapshotId).toSet ==
      Set(after.refs("main").snapshotId, after.refs("keepme").snapshotId))
    assert(spark.sql("SELECT COUNT(*) FROM tcRa.r.t").collect()(0).getLong(0) == 30)
    assert(spark.sql("SELECT COUNT(*) FROM tcRa.r.t VERSION AS OF 'keepme'")
      .collect()(0).getLong(0) == 10)
    intercept[Exception] {
      spark.sql("SELECT COUNT(*) FROM tcRa.r.t VERSION AS OF 'nightly'").collect()
    }

    // a ref MOVE preserves retention: branch appends and create_ref
    // re-pins must never silently clear maxRefAgeMs
    import spark.implicits._
    spark.sql("CALL tcRa.system.create_ref(tbl => 'r.t', ref => 'aud', " +
      "ref_type => 'branch', max_ref_age_ms => 3600000)")
    Maintenance.appendToBranch(
      spark.sessionState.catalogManager.catalog("tcRa")
        .asInstanceOf[graft.catalog.RelativeCatalog]
        .loadTable(Identifier.of(Array("r"), "t"))
        .asInstanceOf[graft.catalog.GraftTable],
      (900L until 910L).toDF("id"), "aud")
    assert(ops.refresh().get._2.refs("aud").maxRefAgeMs.contains(3600000L),
      "branch append cleared ref retention")
    spark.sql("CALL tcRa.system.create_ref(tbl => 'r.t', ref => 'aud', ref_type => 'branch')")
    assert(ops.refresh().get._2.refs("aud").maxRefAgeMs.contains(3600000L),
      "re-pinning without the parameter cleared ref retention")
    spark.sql("CALL tcRa.system.drop_ref(tbl => 'r.t', ref => 'aud')")

    // table-level default ages refs that set no explicit retention
    spark.sql("ALTER TABLE tcRa.r.t SET TBLPROPERTIES ('history.expire.max-ref-age-ms'='1')")
    Thread.sleep(30)
    Maintenance.expireSnapshots(ops, keepLast = 1)
    val after2 = ops.refresh().get._2
    assert(after2.refs.keySet == Set("main"), s"${after2.refs.keySet}")
    // $refs exposes the retention column
    assert(spark.sql("SELECT max_ref_age_ms FROM tcRa.r.`t$refs` WHERE name = 'main'")
      .collect()(0).isNullAt(0))
  }

  test("CALL procedures: SQL maintenance surface end-to-end") {
    val wh = "/tmp/graft_test_proc"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcPr", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcPr.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcPr.p")
    spark.sql("CREATE TABLE tcPr.p.t (id BIGINT)")
    (0 until 3).foreach(i =>
      spark.sql(s"INSERT INTO tcPr.p.t SELECT id FROM range(${i * 10}, ${i * 10 + 10})"))
    def table = {
      val cat = spark.sessionState.catalogManager.catalog("tcPr")
        .asInstanceOf[graft.catalog.RelativeCatalog]
      cat.loadTable(Identifier.of(Array("p"), "t"))
        .asInstanceOf[graft.catalog.GraftTable]
    }
    val goodSnap = table.meta.snapshots.minBy(_.sequenceNumber).snapshotId

    // rollback via CALL, by-name args
    val rb = spark.sql(
      s"CALL tcPr.system.rollback_to_snapshot(tbl => 'p.t', snapshot_id => $goodSnap)").collect()
    assert(rb(0).getLong(0) == goodSnap)
    assert(spark.sql("SELECT COUNT(*) FROM tcPr.p.t").collect()(0).getLong(0) == 10)

    // tag via CALL, then compact + expire; the tag keeps its snapshot
    spark.sql("CALL tcPr.system.create_ref(tbl => 'p.t', ref => 'keep')")
    spark.sql("INSERT INTO tcPr.p.t SELECT id FROM range(100, 120)")
    val ca = spark.sql("CALL tcPr.system.compact(tbl => 'p.t')").collect()
    assert(ca(0).getInt(0) == 1, "compact to one file")
    val ex = spark.sql("CALL tcPr.system.expire_snapshots(tbl => 'p.t', keep_last => 1)").collect()
    assert(ex(0).getInt(0) >= 0)
    assert(spark.sql("SELECT COUNT(*) FROM tcPr.p.t VERSION AS OF 'keep'")
      .collect()(0).getLong(0) == 10, "tagged snapshot survives expiry")
    assert(spark.sql("SELECT COUNT(*) FROM tcPr.p.t").collect()(0).getLong(0) == 30)

    // stats via CALL flow into $stats
    val st = spark.sql("CALL tcPr.system.compute_stats(tbl => 'p.t')").collect()
    assert(st(0).getLong(0) == 30)
    assert(spark.sql("SELECT DISTINCT total_records FROM tcPr.p.`t$stats`")
      .collect()(0).getLong(0) == 30)

    // z-order rewrite via CALL (unpartitioned table)
    val zf = spark.sql("CALL tcPr.system.compact_zorder(tbl => 'p.t', z_columns => 'id', target_files => 2)").collect()
    assert(zf(0).getInt(0) <= 2)
    assert(spark.sql("SELECT COUNT(*) FROM tcPr.p.t").collect()(0).getLong(0) == 30)

    // spec evolution via CALL: new writes cluster by the new spec
    val sp = spark.sql("CALL tcPr.system.update_spec(tbl => 'p.t', transforms => 'id:bucket[4]')").collect()
    assert(sp(0).getInt(0) >= 1)
    spark.sql("INSERT INTO tcPr.p.t SELECT id FROM range(200, 210)")
    val newest = table.currentFiles
      .filter(_.partition.keySet == Set("id_bucket"))
    assert(newest.nonEmpty, "post-evolution writes carry bucket tuples")
  }

  test("relocation carries MOR deletes, stamped tuples, refs; verify_table stays green") {
    val whA = "/tmp/graft_test_reloc6_a"
    val whB = "/tmp/graft_test_reloc6_b"
    Seq(whA, whB).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    spark.conf.set("spark.sql.catalog.tcRlA", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcRlA.warehouse", whA)
    spark.sql("CREATE NAMESPACE tcRlA.r")
    spark.sql("CREATE TABLE tcRlA.r.t (k INT, v STRING) PARTITIONED BY (k) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql("INSERT INTO tcRlA.r.t VALUES (1, 'a1'), (1, 'a2'), (2, 'b1'), (3, 'c1')")
    spark.sql("DELETE FROM tcRlA.r.t WHERE v = 'a2'")
    spark.sql("CALL tcRlA.system.create_ref(tbl => 'r.t', ref => 'rel_tag')")
    spark.sql("INSERT INTO tcRlA.r.t VALUES (4, 'd1')")

    // the relocation: move the whole warehouse, point a NEW catalog at it
    java.nio.file.Files.move(java.nio.file.Paths.get(whA), java.nio.file.Paths.get(whB))
    spark.conf.set("spark.sql.catalog.tcRlB", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcRlB.warehouse", whB)

    // data + MOR subtraction + tag all work at the new location
    assert(spark.sql("SELECT COUNT(*) FROM tcRlB.r.t").collect()(0).getLong(0) == 4)
    assert(spark.sql("SELECT COUNT(*) FROM tcRlB.r.t WHERE v = 'a2'")
      .collect()(0).getLong(0) == 0, "position delete must survive relocation")
    assert(spark.sql("SELECT COUNT(*) FROM tcRlB.r.t VERSION AS OF 'rel_tag'")
      .collect()(0).getLong(0) == 3)
    // integrity check green, stamped tuples intact → dynamic overwrite classifies
    val vr = spark.sql("CALL tcRlB.system.verify_table(tbl => 'r.t')").collect()(0)
    assert(vr.getInt(0) == 0, s"integrity after relocation: ${vr.getString(1)}")
    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try spark.sql("INSERT OVERWRITE tcRlB.r.t VALUES (1, 'A-NEW')")
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    val rows = spark.sql("SELECT k, v FROM tcRlB.r.t ORDER BY k, v").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((1, "A-NEW"), (2, "b1"), (3, "c1"), (4, "d1")), s"$rows")
  }

  test("verify_table: healthy table passes; a vanished file is reported") {
    val wh = "/tmp/graft_test_verify"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcVf", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcVf.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcVf.v")
    spark.sql("CREATE TABLE tcVf.v.t (id BIGINT)")
    spark.sql("INSERT INTO tcVf.v.t SELECT id FROM range(100)")
    val ok = spark.sql("CALL tcVf.system.verify_table(tbl => 'v.t')").collect()(0)
    assert(ok.getInt(0) == 0 && ok.getString(1) == "ok")
    // vandalize: remove a referenced data file
    val ops = new TableOps(wh, "v/t")
    val f = ops.allFiles(ops.refresh().get._2.currentSnapshot.get).head
    Files.delete(Paths.get(RelPaths.absolutize(wh, f.path)))
    val bad = spark.sql("CALL tcVf.system.verify_table(tbl => 'v.t')").collect()(0)
    assert(bad.getInt(0) >= 1 && bad.getString(1).contains("missing file"))
  }

  test("range distribution mode: files get disjoint sort-key ranges") {
    val wh = "/tmp/graft_test_rangedist"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcRd", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcRd.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcRd.r")
    spark.sql("CREATE TABLE tcRd.r.t (id BIGINT) TBLPROPERTIES " +
      "('sort-order'='id asc', 'write.distribution-mode'='range')")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try
      // scrambled input: range clustering must SORT it across files
      spark.sql("INSERT INTO tcRd.r.t SELECT (id * 37) % 10000 FROM range(10000)")
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    val opsRd = new TableOps(wh, "r/t")
    val files = opsRd.allFiles(opsRd.refresh().get._2.currentSnapshot.get)
    assert(files.size >= 2, s"expected multiple files, got ${files.size}")
    // disjoint id ranges: sorted by min bound, each file's max < next min
    val ranges = files.map(f => (f.minBound("id").toLong, f.maxBound("id").toLong))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, max1), (min2, _)) =>
        assert(max1 <= min2, s"overlapping sort-key ranges: $ranges")
      case _ =>
    }
    assert(spark.sql("SELECT COUNT(DISTINCT id) FROM tcRd.r.t")
      .collect()(0).getLong(0) == 10000)
  }

  test("binpack compaction rewrites only undersized files, applies their deletes") {
    val wh = "/tmp/graft_test_binpack"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcBp", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcBp.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcBp.b")
    spark.sql("CREATE TABLE tcBp.b.t (id BIGINT, v STRING) TBLPROPERTIES " +
      "('write.delete.mode'='merge-on-read')")
    spark.sql("INSERT INTO tcBp.b.t SELECT id, repeat('x', 50) FROM range(5000)")
    spark.sql("INSERT INTO tcBp.b.t SELECT id, 'b' FROM range(10000, 10050)")
    spark.sql("INSERT INTO tcBp.b.t SELECT id, 'c' FROM range(20000, 20050)")
    spark.sql("DELETE FROM tcBp.b.t WHERE id BETWEEN 10000 AND 10009")
    val cat = spark.sessionState.catalogManager.catalog("tcBp")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    def tbl = cat.loadTable(Identifier.of(Array("b"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]
    val before = tbl.readSnapshot.get
    val beforeFiles = tbl.ops.allFiles(before)
    val big = beforeFiles.maxBy(_.bytes)
    assert(beforeFiles.size >= 3)
    val smallPaths = beforeFiles.filter(_.bytes < big.bytes / 2).map(_.path).toSet
    val carried = beforeFiles.map(_.path).toSet -- smallPaths
    assert(smallPaths.nonEmpty && carried.nonEmpty)

    val rewritten = Maintenance.compactBinpack(spark, tbl, targetSizeBytes = big.bytes)
    assert(rewritten == smallPaths.size, "exactly the undersized files rewritten")
    val after = tbl.readSnapshot.get
    val afterFiles = tbl.ops.allFiles(after)
    // right-sized files carried over byte-identical; small ones merged
    assert(carried.subsetOf(afterFiles.map(_.path).toSet),
      "right-sized files must carry over")
    assert(afterFiles.map(_.path).toSet.intersect(smallPaths).isEmpty)
    assert(afterFiles.size < beforeFiles.size)
    assert(after.snapshotId != before.snapshotId &&
      tbl.meta.snapshots.maxBy(_.sequenceNumber).operation == "replace")
    // deletes applied during rewrite: counts unchanged
    assert(spark.sql("SELECT COUNT(*) FROM tcBp.b.t").collect()(0).getLong(0) == 5090)
    assert(spark.sql("SELECT COUNT(*) FROM tcBp.b.t WHERE id BETWEEN 10000 AND 10009")
      .collect()(0).getLong(0) == 0)
    // nothing to do when everything is right-sized
    assert(Maintenance.compactBinpack(spark, tbl, targetSizeBytes = 1L) == 0)
  }

  test("rollback + cherry-pick: main moves back; diverged audit append replays") {
    val wh = "/tmp/graft_test_rollb"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcRb", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcRb.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcRb.r")
    spark.sql("CREATE TABLE tcRb.r.t (id BIGINT)")
    spark.sql("INSERT INTO tcRb.r.t SELECT id FROM range(10)")
    val cat = spark.sessionState.catalogManager.catalog("tcRb")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    def tbl = cat.loadTable(Identifier.of(Array("r"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]
    val ops = new TableOps(wh, "r/t")
    val goodSnap = tbl.meta.currentSnapshotId.get

    // a bad batch lands; roll main back to the good snapshot
    spark.sql("INSERT INTO tcRb.r.t SELECT id FROM range(1000, 1100)")
    assert(spark.sql("SELECT COUNT(*) FROM tcRb.r.t").collect()(0).getLong(0) == 110)
    Maintenance.rollbackTo(ops, goodSnap)
    assert(spark.sql("SELECT COUNT(*) FROM tcRb.r.t").collect()(0).getLong(0) == 10)
    // rolled-over snapshot still readable by id until expiry
    assert(spark.sql(s"SELECT COUNT(*) FROM tcRb.r.t VERSION AS OF ${tbl.meta.snapshots
        .maxBy(_.sequenceNumber).snapshotId}").collect()(0).getLong(0) >= 10)

    // WAP with divergence: audit branch appends, then main moves too —
    // fast-forward is impossible, cherry-pick replays the audit append
    import spark.implicits._
    Maintenance.appendToBranch(tbl, (200L until 250L).toDF("id"), "audit")
    val auditSnap = tbl.meta.refs("audit").snapshotId
    spark.sql("INSERT INTO tcRb.r.t SELECT id FROM range(10, 20)")
    val stale = tbl // handle loaded BEFORE the pick: its meta is stale
    Maintenance.cherryPick(tbl, auditSnap)
    assert(spark.sql("SELECT COUNT(*) FROM tcRb.r.t").collect()(0).getLong(0) == 70)
    assert(spark.sql("SELECT COUNT(*) FROM tcRb.r.t WHERE id >= 200")
      .collect()(0).getLong(0) == 50)
    // picking the same snapshot twice must fail, not double the rows —
    // the check runs per-attempt inside the OCC loop on the REFRESHED
    // base, so even a stale handle can't double-apply
    intercept[CommitConflictException] { Maintenance.cherryPick(tbl, auditSnap) }
    intercept[CommitConflictException] { Maintenance.cherryPick(stale, auditSnap) }
    assert(spark.sql("SELECT COUNT(*) FROM tcRb.r.t").collect()(0).getLong(0) == 70)

    // $refs metadata table lists main + audit
    val refs = spark.sql("SELECT name, type, snapshot_id FROM tcRb.r.`t$refs`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(refs("main") == "branch" && refs("audit") == "branch")

    // a non-append snapshot refuses to cherry-pick
    spark.sql("DELETE FROM tcRb.r.t WHERE id >= 240")
    val delSnap = tbl.meta.currentSnapshotId.get
    spark.sql("INSERT INTO tcRb.r.t SELECT id FROM range(500, 501)")
    intercept[IllegalArgumentException] { Maintenance.cherryPick(tbl, delSnap) }
  }

  test("concurrent branch append and main write both land via OCC rebase") {
    val wh = "/tmp/graft_test_brrace"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcBr2", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcBr2.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcBr2.r")
    spark.sql("CREATE TABLE tcBr2.r.t (id BIGINT)")
    spark.sql("INSERT INTO tcBr2.r.t SELECT id FROM range(10)")
    val cat = spark.sessionState.catalogManager.catalog("tcBr2")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    def tbl = cat.loadTable(Identifier.of(Array("r"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]
    Maintenance.createRef(tbl.ops, "audit", "branch")
    import spark.implicits._
    val errs = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t1 = new Thread(() => {
      try Maintenance.appendToBranch(tbl, (100L until 150L).toDF("id"), "audit")
      catch { case e: Throwable => errs.set(e) }
    })
    val t2 = new Thread(() => {
      try spark.sql("INSERT INTO tcBr2.r.t SELECT id FROM range(200, 230)")
      catch { case e: Throwable => errs.set(e) }
    })
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(errs.get() == null, s"racing commit failed: ${errs.get()}")
    // main got only its insert; the branch kept base + its append
    assert(spark.sql("SELECT COUNT(*) FROM tcBr2.r.t").collect()(0).getLong(0) == 40)
    assert(spark.sql("SELECT COUNT(*) FROM tcBr2.r.t VERSION AS OF 'audit'")
      .collect()(0).getLong(0) == 60)
  }

  test("drop_ref: unpins the branch for expiry; main is not droppable") {
    val wh = "/tmp/graft_test_dropref"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcDr", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcDr.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcDr.r")
    spark.sql("CREATE TABLE tcDr.r.t (id BIGINT)")
    spark.sql("INSERT INTO tcDr.r.t SELECT id FROM range(10)")
    val cat = spark.sessionState.catalogManager.catalog("tcDr")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    def tbl = cat.loadTable(Identifier.of(Array("r"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]
    spark.sql("CALL tcDr.system.create_ref(tbl => 'r.t', ref => 'keepme', ref_type => 'branch')")
    val pinnedSnap = tbl.meta.refs("keepme").snapshotId
    spark.sql("INSERT INTO tcDr.r.t SELECT id FROM range(10, 20)")
    spark.sql("INSERT INTO tcDr.r.t SELECT id FROM range(20, 30)")
    // pinned: expiry keeps the ref'd snapshot
    Maintenance.expireSnapshots(tbl.ops, keepLast = 1)
    assert(tbl.meta.snapshot(pinnedSnap).isDefined, "branch pin survives expiry")
    assert(spark.sql("SELECT COUNT(*) FROM tcDr.r.t VERSION AS OF 'keepme'")
      .collect()(0).getLong(0) == 10)
    // dropped: the next expiry can reap it
    spark.sql("CALL tcDr.system.drop_ref(tbl => 'r.t', ref => 'keepme')")
    assert(!tbl.meta.refs.contains("keepme"))
    Maintenance.expireSnapshots(tbl.ops, keepLast = 1)
    assert(tbl.meta.snapshot(pinnedSnap).isEmpty, "unpinned snapshot expires")
    // guards
    intercept[Exception] {
      spark.sql("CALL tcDr.system.drop_ref(tbl => 'r.t', ref => 'main')") }
    intercept[Exception] {
      spark.sql("CALL tcDr.system.drop_ref(tbl => 'r.t', ref => 'nope')") }
  }

  test("streaming upsert (CDC): foreachBatch MERGE INTO per micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val wh = "/tmp/graft_test_cdc"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcCdc", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcCdc.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcCdc.c")
    spark.sql("CREATE TABLE tcCdc.c.state (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO tcCdc.c.state SELECT id, 0.0 FROM range(10)")
    implicit val ctx: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val ms = MemoryStream[(Long, Double)]
    val q = ms.toDS().toDF("id", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.createOrReplaceTempView("cdc_batch")
        batch.sparkSession.sql(
          """MERGE INTO tcCdc.c.state t USING cdc_batch s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET v = s.v
            |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin): Unit
      }.start()
    try {
      ms.addData(Seq((1L, 10.0), (20L, 20.0))); q.processAllAvailable()
      ms.addData(Seq((1L, 11.0), (21L, 21.0))); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.sql("SELECT id, v FROM tcCdc.c.state ORDER BY id").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows.size == 12)
    assert(rows(1L) == 11.0 && rows(20L) == 20.0 && rows(21L) == 21.0 && rows(0L) == 0.0)
  }

  test("CTAS through the catalog") {
    val wh = "/tmp/graft_test_ctas"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcCt", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcCt.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcCt.c")
    spark.sql("CREATE TABLE tcCt.c.src (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO tcCt.c.src SELECT id, id * 2.0 FROM range(100)")
    spark.sql("CREATE TABLE tcCt.c.dst AS SELECT id, v FROM tcCt.c.src WHERE id < 40")
    assert(spark.sql("SELECT COUNT(*) FROM tcCt.c.dst").collect()(0).getLong(0) == 40)
  }

  test("view catalog API: create/load/list/rename/drop round-trip") {
    val wh = "/tmp/graft_test_views"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcV", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcV.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcV.v")
    val cat = spark.sessionState.catalogManager.catalog("tcV")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    val ident = Identifier.of(Array("v"), "myview")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.LongType)))
    cat.createView(new ViewInfo(ident, "SELECT 1 AS x", "tcV", Array("v"),
      schema, Array("x"), Array.empty, Array.empty, new java.util.HashMap[String, String]()))
    assert(cat.viewExists(ident))
    val v = cat.loadView(ident)
    assert(v.query() == "SELECT 1 AS x" && v.schema() == schema)
    assert(cat.listViews("v").map(_.name()).toSeq == Seq("myview"))
    // view file is warehouse-relative → relocates with the warehouse
    assert(Files.exists(Paths.get(wh, "v", "myview.view.json")))
    cat.renameView(ident, Identifier.of(Array("v"), "renamed"))
    assert(!cat.viewExists(ident))
    assert(cat.loadView(Identifier.of(Array("v"), "renamed")).query() == "SELECT 1 AS x")
    assert(cat.dropView(Identifier.of(Array("v"), "renamed")))
    assert(cat.listViews("v").isEmpty)
  }

  test("rewrite_position_deletes: trickle deletes consolidate, data files untouched, reads identical") {
    val wh = "/tmp/graft_test_rpd"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcRpd", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcRpd.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcRpd.m")
    spark.sql("CREATE TABLE tcRpd.m.t (id BIGINT) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql("INSERT INTO tcRpd.m.t SELECT id FROM range(0, 1000)")
    // five trickle DELETEs → five small position-delete files
    (0 until 5).foreach(i => spark.sql(s"DELETE FROM tcRpd.m.t WHERE id % 100 = $i"))

    val cat = spark.sessionState.catalogManager.catalog("tcRpd")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    def table = cat.loadTable(Identifier.of(Array("m"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]
    val before = table.readSnapshot.get
    val dataBefore = table.ops.allFiles(before).map(_.path).toSet
    // each DELETE range-clusters its tombstones per referenced data
    // file → 5 commits × 4 data files = 20 small delete files
    val nDel = before.deleteFiles.size
    assert(nDel >= 5, s"expected trickle-delete debris, got $nDel")
    val expected = spark.sql("SELECT id FROM tcRpd.m.t ORDER BY id").collect().map(_.getLong(0))
    assert(expected.length == 950)

    val n = Maintenance.rewritePositionDeletes(spark, table)
    assert(n == nDel)
    val after = cat.loadTable(Identifier.of(Array("m"), "t"))
      .asInstanceOf[graft.catalog.GraftTable].readSnapshot.get
    assert(after.deleteFiles.size == 1,
      s"consolidation left ${after.deleteFiles.size} delete files")
    assert(after.deleteFiles.forall(d => !d.content.contains("equality")))
    // data files byte-identical (no rewrite happened)
    val t2 = cat.loadTable(Identifier.of(Array("m"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]
    assert(t2.ops.allFiles(after).map(_.path).toSet.subsetOf(dataBefore))
    // reads identical, and a second pass is a no-op
    val got = spark.sql("SELECT id FROM tcRpd.m.t ORDER BY id").collect().map(_.getLong(0))
    assert(got.sameElements(expected), "consolidated delete set changed query results")
    assert(Maintenance.rewritePositionDeletes(spark, t2) == 0)
    // SQL surface
    assert(spark.sql("CALL tcRpd.system.rewrite_position_deletes(tbl => 'm.t')")
      .collect().head.getInt(0) == 0)
  }

  test("rewrite_position_deletes: concurrent MOR delete mid-pass conflicts, never resurrects rows") {
    val wh = "/tmp/graft_test_rpd_race"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcRpdR", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcRpdR.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcRpdR.m")
    spark.sql("CREATE TABLE tcRpdR.m.t (id BIGINT) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql("INSERT INTO tcRpdR.m.t SELECT id FROM range(0, 1000)")
    (0 until 3).foreach(i => spark.sql(s"DELETE FROM tcRpdR.m.t WHERE id % 100 = $i"))
    val cat = spark.sessionState.catalogManager.catalog("tcRpdR")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    // stale handle: its metadata (and so readSnapshot) predate the
    // concurrent writer — exactly the window between the pass's
    // snapshot read and its CAS commit
    val stale = cat.loadTable(Identifier.of(Array("m"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]
    assert(stale.readSnapshot.get.deleteFiles.size >= 2)
    // concurrent MOR delete lands while the pass is "running"
    spark.sql("DELETE FROM tcRpdR.m.t WHERE id % 100 = 50")
    val expected = spark.sql("SELECT count(*) FROM tcRpdR.m.t").collect().head.getLong(0)
    assert(expected == 960)
    // the stale pass must refuse to commit a consolidated set that
    // lacks the concurrent delete (would resurrect its 10 rows)
    intercept[CommitConflictException] {
      Maintenance.rewritePositionDeletes(spark, stale)
    }
    assert(spark.sql("SELECT count(*) FROM tcRpdR.m.t").collect().head.getLong(0)
      == expected, "concurrent delete was lost by a stale consolidation")
    // a fresh pass (re-reading the current snapshot) succeeds and
    // preserves the delete
    val fresh = cat.loadTable(Identifier.of(Array("m"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]
    assert(Maintenance.rewritePositionDeletes(spark, fresh) >= 2)
    assert(spark.sql("SELECT count(*) FROM tcRpdR.m.t").collect().head.getLong(0)
      == expected)
  }

  test("tags are immutable: branch-writes to a tag refuse; expiry keeps the pinned snapshot") {
    val wh = "/tmp/graft_test_tagimm"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcTag", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcTag.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcTag.m")
    spark.sql("CREATE TABLE tcTag.m.t (id BIGINT)")
    spark.sql("INSERT INTO tcTag.m.t SELECT id FROM range(0, 100)")
    spark.sql("CALL tcTag.system.create_ref(tbl => 'm.t', ref => 'rel1', ref_type => 'tag')")
    val cat = spark.sessionState.catalogManager.catalog("tcTag")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    def t = cat.loadTable(Identifier.of(Array("m"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]
    // a write "to" the tag must refuse, not silently convert it to a branch
    val e = intercept[IllegalArgumentException] {
      Maintenance.appendToBranch(t, spark.sql("SELECT id FROM range(100, 200)"), "rel1")
    }
    assert(e.getMessage.contains("tag"))
    assert(t.meta.refs("rel1").refType == "tag", "tag was mutated by a refused write")
    // two more main appends, then expire everything but the head:
    // the tag pins its snapshot through expiry
    spark.sql("INSERT INTO tcTag.m.t SELECT id FROM range(100, 200)")
    spark.sql("INSERT INTO tcTag.m.t SELECT id FROM range(200, 300)")
    spark.sql("CALL tcTag.system.expire_snapshots(tbl => 'm.t', keep_last => 1)")
    val snaps = t.meta.snapshots.map(_.snapshotId).toSet
    assert(snaps.contains(t.meta.refs("rel1").snapshotId), "expiry dropped the tagged snapshot")
    assert(spark.sql("SELECT count(*) FROM tcTag.m.t VERSION AS OF 'rel1'")
      .collect().head.getLong(0) == 100)
    assert(spark.sql("SELECT count(*) FROM tcTag.m.t")
      .collect().head.getLong(0) == 300)
  }
}
