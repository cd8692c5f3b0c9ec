package graft

import graft.TestSpark.TableFiles
import graft.catalog.GraftTable
import graft.streaming.CdcOffset
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** CDC admission for MOR position-delete commits: a position-delete
  * file's manifest record count IS its delete-row count (one change
  * row per (file, pos) entry), so — unlike COW / equality-delete
  * commits, whose change volume has no cheap upper bound — MOR
  * position-delete traffic is BUDGETED exactly under
  * `max-rows-per-trigger`: several small MOR deletes pack into one
  * capped trigger like appends, and a position-delete-only commit
  * that ALONE exceeds the cap slices by its added DELETE-FILE set
  * (`{"seq":N,"idx":K,"unit":"deleted"}` offsets) — a table-wide MOR
  * DELETE drains bounded WITHOUT the split-row-level spill. The COW
  * twin (materialize-and-slice) is CdcRowLevelSplitSpec. The split's
  * expired-BASE/truncation contract is the same shared guard
  * (`assertSplitContiguous` → Changes.requireRetainedBase/
  * requireLinearBase) CdcTailSplitSpec pins for the added unit; what
  * this suite adds is the deleted unit's own retention edge — the
  * PARENT state the delete entries bind to expiring mid-drain. */
class CdcMorSplitSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def freshWh(name: String): String = {
    val wh = s"/tmp/graft_test_$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set(s"spark.sql.catalog.$name", "graft.catalog.RelativeCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    wh
  }

  /** Run `body` without AQE partition coalescing: the MOR delete
    * writer range-clusters delete rows by referenced file
    * (`repartitionByRange(file_path)` in `deleteWhere`), which at real
    * scale yields one delete file per range — but on a 30-row test
    * delete AQE coalesces the shuffle to one partition and the commit
    * lands as ONE delete file, leaving nothing to slice. */
  private def multiDeleteFiles[A](body: => A): A = {
    val k = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.get(k)
    spark.conf.set(k, "false")
    try body finally spark.conf.set(k, old)
  }

  /** seq 1: 6 ten-row files (ids 0..59); seq 2: MOR DELETE of
    * ids < 30 — one position-delete file per touched data file (3). */
  private def morTable(cat: String): Unit = {
    spark.sql(s"CREATE NAMESPACE $cat.st")
    spark.sql(s"CREATE TABLE $cat.st.t (id BIGINT) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.range(0, 60, 1, 6).writeTo(s"$cat.st.t").append()
    multiDeleteFiles { spark.sql(s"DELETE FROM $cat.st.t WHERE id < 30") }
    val ops = new graft.catalog.TableOps(s"/tmp/graft_test_$cat", "st/t")
    val meta = ops.refresh().get._2
    val snap = meta.currentSnapshot.get
    assert(meta.snapshots.size == 2, "setup: insert + one MOR delete")
    assert(snap.deleteFiles.count(!graft.catalog.Mor.isEquality(_)) >= 3,
      s"setup: the MOR delete must land as >= 3 position-delete files " +
        s"(got ${snap.deleteFiles.size})")
    assert(ops.addedFiles(snap).isEmpty,
      "setup: a pure MOR delete adds no data files")
  }

  private def collector(seen: java.util.Queue[(Long, String, Int, Long)]) =
    (df: org.apache.spark.sql.DataFrame, batchId: Long) => {
      df.collect().foreach(r => seen.add((r.getAs[Long]("id"),
        r.getAs[String]("_change_type"), r.getAs[Int]("_change_ordinal"), batchId)))
      (): Unit
    }

  test("an over-cap MOR position-delete commit drains as bounded delete-file slices — no spill, no opt-in") {
    freshWh("tcCdcMs")
    morTable("tcCdcMs")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Int, Long)]()
    // start-seq=1: a pure tail past the insert; NO split-row-level —
    // the delete-file split is metadata-backed, not spill-backed
    val q = spark.readStream.format("graft-cdc")
      .option("table", "tcCdcMs.st.t")
      .option("start-seq", "1")
      .option("max-rows-per-trigger", "10")
      .load()
      .writeStream.foreachBatch(collector(seen))
      .outputMode("append").start()
    try q.processAllAvailable()
    finally { q.stop(); graft.streaming.Hygiene.unload(q.runId) }
    import scala.jdk.CollectionConverters._
    val byBatch = seen.asScala.toSeq.groupBy(_._4).toSeq.sortBy(_._1).map(_._2)
    assert(byBatch.size >= 3,
      s"expected >= 3 slices (30 delete entries, cap 10): ${byBatch.map(_.size)}")
    assert(byBatch.forall(_.size <= 10),
      s"a batch exceeded the rows cap: ${byBatch.map(_.size)}")
    assert(seen.asScala.forall(r => r._2 == "delete" && r._3 == 1),
      "delete-file slices are ordinal-1 deletes")
    assert(byBatch.flatten.map(_._1).toSet == (0L until 30L).toSet,
      "slices must union to exactly the commit's change rows")
    assert(byBatch.map(_.size).sum == 30, "overlapping slices")
  }

  test("several small MOR deletes PACK into one capped trigger (budgeted like appends); an over-cap successor defers") {
    freshWh("tcCdcMsP")
    spark.sql("CREATE NAMESPACE tcCdcMsP.st")
    spark.sql("CREATE TABLE tcCdcMsP.st.t (id BIGINT) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.range(0, 60, 1, 1).writeTo("tcCdcMsP.st.t").append()   // seq 1
    spark.sql("DELETE FROM tcCdcMsP.st.t WHERE id < 3")          // seq 2: 3 rows
    spark.sql("DELETE FROM tcCdcMsP.st.t WHERE id >= 3 AND id < 6")  // seq 3: 3
    spark.sql("DELETE FROM tcCdcMsP.st.t WHERE id >= 6 AND id < 9")  // seq 4: 3
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Int, Long)]()
    val q = spark.readStream.format("graft-cdc")
      .option("table", "tcCdcMsP.st.t")
      .option("start-seq", "1")
      .option("max-rows-per-trigger", "100")
      .load()
      .writeStream.foreachBatch(collector(seen))
      .outputMode("append").start()
    try q.processAllAvailable()
    finally { q.stop(); graft.streaming.Hygiene.unload(q.runId) }
    import scala.jdk.CollectionConverters._
    val byBatch = seen.asScala.toSeq.groupBy(_._4).toSeq.sortBy(_._1).map(_._2)
    assert(byBatch.size == 1,
      s"3 budgeted MOR deletes (9 rows) under a 100-row cap must share ONE " +
        s"trigger: ${byBatch.map(_.size)}")
    assert(byBatch.head.map(_._3).toSet == Set(1, 2, 3),
      "packed commits keep per-commit ordinals")
    assert(byBatch.head.map(_._1).toSet == (0L until 9L).toSet, "rows lost")

    // an over-cap budget defers: cap 5 fits seq 2 (3 rows) but not
    // seq 2+3 (6) — each commit lands in its own bounded batch
    val seen2 = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Int, Long)]()
    val q2 = spark.readStream.format("graft-cdc")
      .option("table", "tcCdcMsP.st.t")
      .option("start-seq", "1")
      .option("max-rows-per-trigger", "5")
      .load()
      .writeStream.foreachBatch(collector(seen2))
      .outputMode("append").start()
    try q2.processAllAvailable()
    finally { q2.stop(); graft.streaming.Hygiene.unload(q2.runId) }
    val byBatch2 = seen2.asScala.toSeq.groupBy(_._4).toSeq.sortBy(_._1).map(_._2)
    assert(byBatch2.size == 3 && byBatch2.forall(_.size == 3),
      s"cap 5 must defer each 3-row MOR delete to its own trigger: " +
        s"${byBatch2.map(_.size)}")
  }

  test("mid-deleted-drain checkpoint resume: committed slices never replay, remainder arrives exactly") {
    freshWh("tcCdcMsR")
    morTable("tcCdcMsR")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdcms_ckpt").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Int, Long)]()
    def start(trigger: Option[Trigger]) = {
      val w = spark.readStream.format("graft-cdc")
        .option("table", "tcCdcMsR.st.t")
        .option("start-seq", "1")
        .option("max-rows-per-trigger", "10")
        .load()
        .writeStream.foreachBatch(collector(seen))
        .option("checkpointLocation", ckpt)
        .outputMode("append")
      trigger.fold(w)(w.trigger).start()
    }
    val q1 = start(Some(Trigger.ProcessingTime("5 minutes")))
    try {
      val commit0 = new java.io.File(s"$ckpt/commits/0")
      val deadline = System.currentTimeMillis() + 120000
      while (!commit0.exists() && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(commit0.exists(), "batch 0 never committed")
    } finally { q1.stop(); graft.streaming.Hygiene.unload(q1.runId) }
    import scala.jdk.CollectionConverters._
    val run1 = seen.asScala.toSeq.map(_._1).toSet
    assert(run1.nonEmpty && run1.size <= 10, s"run 1 delivered ${run1.size} rows")
    // the checkpointed offset IS mid-unit and names the unit KIND
    val off0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$ckpt/offsets/0")), "UTF-8")
    assert(off0.contains("\"idx\":") && off0.contains("\"unit\":\"deleted\""),
      s"offset 0 not a deleted-unit slice: $off0")

    seen.clear()
    val q2 = start(None)
    try q2.processAllAvailable()
    finally { q2.stop(); graft.streaming.Hygiene.unload(q2.runId) }
    val run2 = seen.asScala.toSeq.map(_._1).toSet
    assert(run2.intersect(run1).isEmpty, "committed deleted slice replayed after resume")
    assert(run1 ++ run2 == (0L until 30L).toSet,
      s"rows lost across the restart: ${(run1 ++ run2).size}")
  }

  test("a row two delete files of one commit name is delivered once when the files fall into different slices") {
    freshWh("tcCdcMsD")
    spark.sql("CREATE NAMESPACE tcCdcMsD.st")
    spark.sql("CREATE TABLE tcCdcMsD.st.t (id BIGINT) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.range(0, 60, 1, 6).writeTo("tcCdcMsD.st.t").append()
    val gt = spark.sessionState.catalogManager.catalog("tcCdcMsD").asInstanceOf[TableCatalog]
      .loadTable(Identifier.of(Array("st"), "t")).asInstanceOf[GraftTable]
    val at = gt.positionsById
    // one commit of two position-delete files, 10 and 9 entries, both
    // naming id 9: under a 10-row cap they cannot share a slice
    gt.commitDeletes(Seq((0L to 9L).map(at), (9L to 17L).map(at)))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Int, Long)]()
    val q = spark.readStream.format("graft-cdc")
      .option("table", "tcCdcMsD.st.t")
      .option("start-seq", "1")
      .option("max-rows-per-trigger", "10")
      .load()
      .writeStream.foreachBatch(collector(seen))
      .outputMode("append").start()
    try q.processAllAvailable()
    finally { q.stop(); graft.streaming.Hygiene.unload(q.runId) }
    import scala.jdk.CollectionConverters._
    val rows = seen.asScala.toSeq
    assert(rows.map(_._4).distinct.size == 2, s"batches: ${rows.groupBy(_._4).view.mapValues(_.size).toMap}")
    assert(rows.forall(r => r._2 == "delete" && r._3 == 1))
    assert(rows.map(_._1).sorted == (0L to 17L), s"delivered ${rows.map(_._1).sorted}")
  }

  test("a mid-drain parent expiry fails loudly: delete slices read against the parent state and cannot re-bind") {
    freshWh("tcCdcMsX")
    morTable("tcCdcMsX")
    val ops = new graft.catalog.TableOps("/tmp/graft_test_tcCdcMsX", "st/t")
    val src = new graft.streaming.GraftCdcSource(spark, ops, ops.refresh().get._2, 1L,
      maxRowsPerTrigger = Some(10L))
    val lim = src.getDefaultReadLimit
    val o1 = src.latestOffset(CdcOffset(1), lim).asInstanceOf[CdcOffset]
    assert(o1.seq == 2 && o1.fileIdx > 0 && o1.unit == "deleted",
      s"first deleted slice: $o1")
    // first slice plans fine (content exactness is the e2e tests' job;
    // the streaming-marked frame refuses direct batch execution here)
    assert(src.getBatch(Some(CdcOffset(1)), o1).schema.fieldNames
      .contains("_change_type"))
    // the PARENT (seq 1, the state the delete entries bind to) expires
    // mid-drain: the next slice must fail loudly AT PLAN TIME, not
    // emit an empty batch
    graft.catalog.Maintenance.expireSnapshots(ops, keepLast = 1): Unit
    val e = intercept[IllegalStateException] {
      src.getBatch(Some(o1), CdcOffset(2, o1.fileIdx + 1, "deleted"))
    }
    assert(e.getMessage.contains("no longer retained"), e.getMessage)
  }

  test("deleted-unit offsets round-trip") {
    freshWh("tcCdcMsO")
    spark.sql("CREATE NAMESPACE tcCdcMsO.st")
    spark.sql("CREATE TABLE tcCdcMsO.st.t (id BIGINT)")
    spark.sql("INSERT INTO tcCdcMsO.st.t VALUES (1)")
    val ops = new graft.catalog.TableOps("/tmp/graft_test_tcCdcMsO", "st/t")
    val src = new graft.streaming.GraftCdcSource(spark, ops, ops.refresh().get._2, 0L)
    assert(CdcOffset(7, 3, "deleted").json == """{"seq":7,"idx":3,"unit":"deleted"}""")
    assert(src.deserializeOffset("""{"seq":7,"idx":3,"unit":"deleted"}""") ==
      CdcOffset(7, 3, "deleted"))
  }

  test("COW and equality-delete commits stay unbudgeted: admit-and-close, never a deleted split") {
    // equality deletes count PREDICATES in their stats, not matched
    // rows — budgeting them would under-admit or over-admit; they must
    // keep the admit-and-close contract
    freshWh("tcCdcMsE")
    spark.sql("CREATE NAMESPACE tcCdcMsE.st")
    spark.sql("CREATE TABLE tcCdcMsE.st.t (id BIGINT) TBLPROPERTIES " +
      "('write.delete.mode'='merge-on-read', 'write.delete.granularity'='equality')")
    spark.range(0, 60, 1, 1).writeTo("tcCdcMsE.st.t").append()
    spark.sql("DELETE FROM tcCdcMsE.st.t WHERE id < 30")
    val ops = new graft.catalog.TableOps("/tmp/graft_test_tcCdcMsE", "st/t")
    val src = new graft.streaming.GraftCdcSource(spark, ops, ops.refresh().get._2, 1L,
      maxRowsPerTrigger = Some(10L))
    val o = src.latestOffset(CdcOffset(1), src.getDefaultReadLimit)
      .asInstanceOf[CdcOffset]
    assert(o == CdcOffset(2),
      s"an equality-delete commit must admit-and-close as a pure seq, got $o")
  }

  test("property fuzz: a capped CDC drain over random append/MOR-delete histories equals the unsplit batch changelog") {
    // one property covers the whole r20 admission surface at once:
    // budgeted packing, the deleted-unit split, the added-unit split,
    // genesis, and their interleavings. For ANY history of appends and
    // MOR position deletes (every commit budgetable), a drain under
    // max-rows-per-trigger must (a) emit exactly the batch changelog's
    // (id, v, type) multiset and (b) keep every batch within
    // max(cap, largest single unit file) — the progress guarantee
    // admits one file minimum, so an unsplittable over-cap file IS the
    // documented bound, not a violation
    import scala.jdk.CollectionConverters._
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val cat = s"tcCdcZf$seed"
      val wh = freshWh(cat)
      spark.sql(s"CREATE NAMESPACE $cat.st")
      spark.sql(s"CREATE TABLE $cat.st.t (id BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
      val cap = 10 + rnd.nextInt(11) // 10..20: some appends exceed it
      var hi = 0L
      (1 to 6).foreach { i =>
        if (i == 1 || rnd.nextInt(10) < 6 || hi == 0) {
          val n = 4 + rnd.nextInt(37) // files of <= 10 rows each
          spark.range(hi, hi + n, 1, ((n + 9) / 10).toInt)
            .selectExpr("id", "id * 7 AS v").writeTo(s"$cat.st.t").append()
          hi += n
        } else multiDeleteFiles {
          spark.sql(s"DELETE FROM $cat.st.t WHERE id % ${2 + rnd.nextInt(4)} = 0")
        }
      }
      val ops = new graft.catalog.TableOps(wh, "st/t")
      val meta = ops.refresh().get._2
      val cur = meta.currentSnapshot.get.sequenceNumber
      val expected = graft.catalog.Changes
        .between(spark, ops, meta, 0L, cur).get
        .groupBy("id", "v", "_change_type").count().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)) -> r.getLong(3))
        .toMap
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String, Long)]()
      val q = spark.readStream.format("graft-cdc")
        .option("table", s"$cat.st.t")
        .option("max-rows-per-trigger", cap.toString)
        .load()
        .writeStream.foreachBatch {
          (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
            df.collect().foreach(r => seen.add((r.getAs[Long]("id"),
              r.getAs[Long]("v"), r.getAs[String]("_change_type"), batchId)))
            (): Unit
        }
        .outputMode("append").start()
      try q.processAllAvailable()
      finally { q.stop(); graft.streaming.Hygiene.unload(q.runId) }
      val drained = seen.asScala.toSeq
        .groupBy(t => (t._1, t._2, t._3)).map { case (k, v) => k -> v.size.toLong }
      assert(drained == expected,
        s"seed=$seed cap=$cap: drained multiset != batch changelog — " +
          s"missing=${(expected.toSet -- drained.toSet).take(5)} " +
          s"extra=${(drained.toSet -- expected.toSet).take(5)}")
      val maxUnitFile = meta.snapshots.flatMap(s =>
        ops.addedFiles(s).map(_.records) ++
          s.deleteFiles.filterNot(graft.catalog.Mor.isEquality).map(_.records))
        .maxOption.getOrElse(0L)
      val bound = math.max(cap.toLong, maxUnitFile)
      val sizes = seen.asScala.toSeq.groupBy(_._4).view.mapValues(_.size).toMap
      assert(sizes.values.forall(_ <= bound),
        s"seed=$seed cap=$cap: a batch exceeded max(cap, largest unit file " +
          s"$maxUnitFile): ${sizes.toSeq.sortBy(_._1)}")
      assert(sizes.size >= (expected.values.sum.toDouble / bound).ceil.toInt,
        s"seed=$seed: fewer batches than the bound admits")
    }
  }
}
