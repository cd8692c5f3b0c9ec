package graft

import graft.catalog.{Changes, Maintenance, TableOps}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** End-to-end coverage for the `graft-cdc` V1 streaming source:
  * offset advance/replay, genesis insert replay, MOR delete batches,
  * checkpoint restart, the expired-base loud failures, and the
  * post-rollback lineage walk (Changes.between diffs a commit against
  * its ACTUAL parent, never an abandoned snapshot).
  */
class CdcSourceSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** (id, change_type, batch_id) triples captured per micro-batch —
    * foreachBatch (not the memory sink) so checkpoint RESTART is a
    * supported path. */
  private def collector(seen: java.util.Queue[(Long, String, Long)]) =
    (df: org.apache.spark.sql.DataFrame, batchId: Long) => {
      df.collect().foreach(r =>
        seen.add((r.getAs[Long]("id"), r.getAs[String]("_change_type"), batchId)))
      (): Unit
    }

  test("graft-cdc: genesis replay, per-commit batches, MOR deletes, checkpoint restart") {
    val wh = "/tmp/graft_test_cdcsrc"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcCdcS", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcCdcS.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcCdcS.c")
    spark.sql("CREATE TABLE tcCdcS.c.t (id BIGINT, grp STRING) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql("INSERT INTO tcCdcS.c.t SELECT id, 'a' FROM range(0, 10)")

    val ckpt = Files.createTempDirectory("graft_cdc_ckpt").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    def start() = spark.readStream.format("graft-cdc")
      .option("warehouse", wh).option("location", "c/t")
      .load()
      .writeStream.foreachBatch(collector(seen))
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q = start()
    try {
      q.processAllAvailable()
      // batch 0 = genesis replay: the whole table as inserts
      val b0 = seen.asScala.toSeq
      assert(b0.map(_._1).sorted == (0L until 10L),
        s"genesis replay wrong: $b0")
      assert(b0.forall(_._2 == "insert"))

      // append commit -> one new batch of exactly the added rows
      seen.clear()
      spark.sql("INSERT INTO tcCdcS.c.t SELECT id, 'b' FROM range(10, 15)")
      q.processAllAvailable()
      val b1 = seen.asScala.toSeq
      assert(b1.map(_._1).sorted == (10L until 15L) && b1.forall(_._2 == "insert"),
        s"append batch wrong: $b1")

      // MOR position-delete commit -> delete-tagged rows, nothing else
      seen.clear()
      spark.sql("DELETE FROM tcCdcS.c.t WHERE id < 3")
      q.processAllAvailable()
      val b2 = seen.asScala.toSeq
      assert(b2.map(_._1).sorted == (0L until 3L) && b2.forall(_._2 == "delete"),
        s"MOR delete batch wrong: $b2")

      // compaction moves bytes, not rows: the stream must emit NOTHING
      seen.clear()
      val cata = spark.sessionState.catalogManager.catalog("tcCdcS")
        .asInstanceOf[graft.catalog.RelativeCatalog]
      Maintenance.compact(spark, cata
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("c"), "t"))
        .asInstanceOf[graft.catalog.GraftTable], targetFiles = 1)
      q.processAllAvailable()
      assert(seen.isEmpty, s"compaction must be changelog-invisible: ${seen.asScala}")
    } finally { q.stop(); graft.streaming.Hygiene.unload(q.runId) }

    // RESTART from the checkpoint: only commits after the stored
    // offset replay (exactly-once, no genesis re-emit)
    spark.sql("INSERT INTO tcCdcS.c.t VALUES (100, 'z')")
    seen.clear()
    val q2 = start()
    try {
      q2.processAllAvailable()
      val b3 = seen.asScala.toSeq
      assert(b3.map(r => (r._1, r._2)) == Seq((100L, "insert")),
        s"checkpoint restart replayed wrong rows: $b3")
    } finally { q2.stop(); graft.streaming.Hygiene.unload(q2.runId) }
  }

  test("graft-cdc admission control: a backlog drains as bounded per-commit batches; restart is forward-only") {
    val wh = "/tmp/graft_test_cdcrate"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcCdcRt", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcCdcRt.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcCdcRt.c")
    spark.sql("CREATE TABLE tcCdcRt.c.t (id BIGINT, grp STRING)")
    (0 until 4).foreach(i =>
      spark.sql(s"INSERT INTO tcCdcRt.c.t SELECT id, 'a' FROM range(${i * 10}, ${i * 10 + 10})"))

    // commit cap: a 4-commit backlog drains as 4 one-commit batches
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    val ckpt = Files.createTempDirectory("graft_cdc_rate_ckpt").toString
    def start(cap: String, v: String) = spark.readStream.format("graft-cdc")
      .option("warehouse", wh).option("location", "c/t")
      .option(cap, v)
      .load()
      .writeStream.foreachBatch(collector(seen))
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q = start("max-commits-per-trigger", "1")
    try {
      q.processAllAvailable()
      val byBatch = seen.asScala.toSeq.groupBy(_._3).toSeq.sortBy(_._1)
      assert(byBatch.size == 4, s"expected 4 capped batches: ${byBatch.map(_._2.size)}")
      assert(byBatch.forall(_._2.size == 10), s"each batch = one 10-row commit: ${byBatch.map(_._2.size)}")
      assert(seen.asScala.map(_._1).toSeq.sorted == (0L until 40L), "rows lost or duplicated")
    } finally { q.stop(); graft.streaming.Hygiene.unload(q.runId) }

    // RESTART with the cap: SupportsAdmissionControl hands the
    // restored checkpoint offset to latestOffset(start, limit) as the
    // START param, so caps apply from the very first post-restart
    // trigger — the two new commits arrive as TWO capped batches,
    // exactly once, nothing re-delivered, structurally no way to
    // regress the checkpoint.
    (4 until 6).foreach(i =>
      spark.sql(s"INSERT INTO tcCdcRt.c.t SELECT id, 'b' FROM range(${i * 10}, ${i * 10 + 10})"))
    seen.clear()
    val q2 = start("max-commits-per-trigger", "1")
    try {
      q2.processAllAvailable()
      assert(seen.asScala.map(_._1).toSeq.sorted == (40L until 60L),
        s"restart must deliver exactly the two new commits: ${seen.asScala.toSeq}")
      val byBatch2 = seen.asScala.toSeq.groupBy(_._3).toSeq.sortBy(_._1)
      assert(byBatch2.size == 2 && byBatch2.forall(_._2.size == 10),
        s"post-restart drain must stay capped (floor re-armed by the " +
          s"recovery getBatch): ${byBatch2.map(_._2.size)}")
    } finally { q2.stop(); graft.streaming.Hygiene.unload(q2.runId) }

    // rows cap on a FRESH stream (new checkpoint): 6 commits x 10 rows
    // at max-rows-per-trigger=20 -> 3 batches of 2 commits each
    val seen2 = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    val q3 = spark.readStream.format("graft-cdc")
      .option("warehouse", wh).option("location", "c/t")
      .option("max-rows-per-trigger", "20")
      .load()
      .writeStream.foreachBatch(collector(seen2))
      .option("checkpointLocation", Files.createTempDirectory("graft_cdc_rate2_ckpt").toString)
      .outputMode("append").start()
    try {
      q3.processAllAvailable()
      val byBatch = seen2.asScala.toSeq.groupBy(_._3).toSeq.sortBy(_._1)
      assert(byBatch.size == 3, s"expected 3 row-capped batches: ${byBatch.map(_._2.size)}")
      assert(byBatch.forall(_._2.size == 20), s"each batch = 2 commits: ${byBatch.map(_._2.size)}")
      assert(seen2.asScala.map(_._1).toSeq.sorted == (0L until 60L))
    } finally { q3.stop(); graft.streaming.Hygiene.unload(q3.runId) }

    // a ROW-LEVEL commit under a rows cap closes its batch (its
    // change-row count has no cheap upper bound, so the cap must never
    // be silently inert on row-level history): two COW deletes must
    // land in two DIFFERENT batches even under a huge rows budget
    spark.sql("DELETE FROM tcCdcRt.c.t WHERE id < 5")
    spark.sql("DELETE FROM tcCdcRt.c.t WHERE id >= 55")
    val seen3 = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    val q4 = spark.readStream.format("graft-cdc")
      .option("warehouse", wh).option("location", "c/t")
      .option("max-rows-per-trigger", "1000000")
      .load()
      .writeStream.foreachBatch(collector(seen3))
      .option("checkpointLocation", Files.createTempDirectory("graft_cdc_rate3_ckpt").toString)
      .outputMode("append").start()
    try {
      q4.processAllAvailable()
      val delBatches = seen3.asScala.toSeq.filter(_._2 == "delete")
        .groupBy(r => if (r._1 < 5) "low" else "high")
        .map { case (k, rs) => k -> rs.map(_._3).toSet }
      assert(delBatches("low").intersect(delBatches("high")).isEmpty,
        s"two row-level commits shared a batch under the rows cap: $delBatches")
    } finally { q4.stop(); graft.streaming.Hygiene.unload(q4.runId) }
  }

  test("equality-delete commits stream as delete batches (the scan-free MOR path)") {
    val wh = "/tmp/graft_test_cdceq"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcCdcQ", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcCdcQ.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcCdcQ.c")
    spark.sql("CREATE TABLE tcCdcQ.c.t (id BIGINT, grp STRING) TBLPROPERTIES " +
      "('write.delete.mode'='merge-on-read', 'write.delete.granularity'='equality')")
    spark.sql("INSERT INTO tcCdcQ.c.t SELECT id, 'a' FROM range(0, 10)")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    val q = spark.readStream.format("graft-cdc")
      .option("table", "tcCdcQ.c.t")
      .load()
      .writeStream.foreachBatch(collector(seen))
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      seen.clear()
      spark.sql("DELETE FROM tcCdcQ.c.t WHERE id IN (2, 5)")
      q.processAllAvailable()
      val b = seen.asScala.toSeq
      assert(b.map(r => (r._1, r._2)).sorted == Seq((2L, "delete"), (5L, "delete")),
        s"equality-delete batch wrong: $b")
    } finally { q.stop(); graft.streaming.Hygiene.unload(q.runId) }
  }

  test("mid-stream schema evolution fails the batch loudly (restart to pick it up)") {
    val wh = "/tmp/graft_test_cdcsch"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcCdcH", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcCdcH.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcCdcH.c")
    spark.sql("CREATE TABLE tcCdcH.c.t (id BIGINT)")
    spark.sql("INSERT INTO tcCdcH.c.t VALUES (1)")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    val q = spark.readStream.format("graft-cdc")
      .option("warehouse", wh).option("location", "c/t")
      .load()
      .writeStream.foreachBatch(collector(seen))
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(seen.size == 1)
      // MicroBatchExecution aliases batch output to the stream-start
      // attributes BY POSITION — a silent column add would mislabel
      // data, so the source must refuse the batch instead
      spark.sql("ALTER TABLE tcCdcH.c.t ADD COLUMN extra STRING")
      spark.sql("INSERT INTO tcCdcH.c.t VALUES (2, 'x')")
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("schema changed mid-stream")),
        messages(e).mkString(" | "))
    } finally { q.stop(); graft.streaming.Hygiene.unload(q.runId) }
  }

  test("expired replay base fails loudly instead of re-emitting or dropping") {
    val wh = "/tmp/graft_test_cdcexp"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcCdcE", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcCdcE.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcCdcE.c")
    spark.sql("CREATE TABLE tcCdcE.c.t (id BIGINT)")
    (0 until 3).foreach(i =>
      spark.sql(s"INSERT INTO tcCdcE.c.t SELECT id FROM range(${i * 10}, ${i * 10 + 10})"))
    val ops = new TableOps(wh, "c/t")
    Maintenance.expireSnapshots(ops, keepLast = 1)
    val meta = ops.refresh().get._2
    val cur = meta.currentSnapshot.get.sequenceNumber

    // a stream whose lag exceeds retention: its base seq is expired
    val e1 = intercept[IllegalStateException] {
      Changes.between(spark, ops, meta, fromSeq = 1, toSeq = cur)
    }
    assert(e1.getMessage.contains("expired"), e1.getMessage)

    // genesis replay on a truncated chain: NOTHING has been delivered
    // yet, so there is no re-emit/drop hazard — the oldest retained
    // lineage snapshot diffs against empty and the full surviving
    // state replays as inserts (a fresh CDC stream must be able to
    // start on a table that has ever run expireSnapshots)
    val g = Changes.between(spark, ops, meta, fromSeq = 0, toSeq = cur).get
      .collect()
    assert(g.forall(_.getAs[String]("_change_type") == "insert"), g.mkString(","))
    assert(g.map(_.getLong(0)).sorted.toSeq == (0L until 30L),
      s"genesis replay must emit exactly the surviving state: ${g.length} rows")

    // and the synthetic genesis applies DELETES to the surviving
    // state — it must not resurrect rows removed before the expire
    spark.sql("DELETE FROM tcCdcE.c.t WHERE id = 7")
    Maintenance.expireSnapshots(ops, keepLast = 1)
    val meta2 = ops.refresh().get._2
    val cur2 = meta2.currentSnapshot.get.sequenceNumber
    val g2 = Changes.between(spark, ops, meta2, fromSeq = 0, toSeq = cur2).get
      .collect()
    assert(g2.forall(_.getAs[String]("_change_type") == "insert"))
    assert(g2.map(_.getLong(0)).sorted.toSeq == (0L until 30L).filterNot(_ == 7L),
      s"deleted row resurrected by synthetic genesis: ${g2.length} rows")

    // an intact base still works
    assert(Changes.between(spark, ops, meta, cur, cur).isEmpty)
  }

  test("a fresh CDC stream starts on a table that has already run expireSnapshots") {
    // the round-13 advice scenario, end-to-end at the SOURCE level:
    // default start-seq=0 on a truncated chain must replay the
    // surviving state, not throw 'chain TRUNCATED'
    val wh = "/tmp/graft_test_cdcgen"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcCdcG", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcCdcG.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcCdcG.c")
    spark.sql("CREATE TABLE tcCdcG.c.t (id BIGINT)")
    (0 until 3).foreach(i =>
      spark.sql(s"INSERT INTO tcCdcG.c.t SELECT id FROM range(${i * 10}, ${i * 10 + 10})"))
    spark.sql("DELETE FROM tcCdcG.c.t WHERE id = 4")
    Maintenance.expireSnapshots(new TableOps(wh, "c/t"), keepLast = 1)

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    val q = spark.readStream.format("graft-cdc")
      .option("warehouse", wh).option("location", "c/t")
      .load()
      .writeStream.foreachBatch(collector(seen))
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val b0 = seen.asScala.toSeq
      assert(b0.forall(_._2 == "insert"), s"synthetic genesis must emit inserts: $b0")
      assert(b0.map(_._1).sorted == (0L until 30L).filterNot(_ == 4L),
        s"surviving state wrong (${b0.size} rows)")
      // and the stream keeps tailing new commits normally
      seen.clear()
      spark.sql("INSERT INTO tcCdcG.c.t VALUES (100)")
      q.processAllAvailable()
      assert(seen.asScala.toSeq.map(r => (r._1, r._2)) == Seq((100L, "insert")))
    } finally { q.stop(); graft.streaming.Hygiene.unload(q.runId) }
  }

  test("batch-0 checkpoint REPLAY after expiry fails loudly; fresh/committed/opted-in keep synthetic genesis") {
    // fromSeq=0 alone cannot tell a fresh stream from a checkpointed
    // stream replaying batch 0 — the provider reads the checkpoint
    // (offsets/0 without commits/0 = pending replay) and only then
    // forbids synthetic genesis, so a crash-replay after an expiry
    // can never silently deliver net-state rows that differ from the
    // first delivery
    val wh = "/tmp/graft_test_cdcrep"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcCdcRp", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcCdcRp.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcCdcRp.c")
    spark.sql("CREATE TABLE tcCdcRp.c.t (id BIGINT)")
    (0 until 3).foreach(i =>
      spark.sql(s"INSERT INTO tcCdcRp.c.t SELECT id FROM range(${i * 10}, ${i * 10 + 10})"))
    val ops = new TableOps(wh, "c/t")
    Maintenance.expireSnapshots(ops, keepLast = 1)
    val cur = ops.refresh().get._2.currentSnapshot.get.sequenceNumber

    val provider = new graft.streaming.GraftCdcSourceProvider
    val params = Map("warehouse" -> wh, "location" -> "c/t")
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset

    def mkCkpt(offsets0: Boolean, commits0: Boolean): String = {
      val d = Files.createTempDirectory("graft_cdc_rep")
      if (offsets0) {
        Files.createDirectories(d.resolve("offsets"))
        Files.write(d.resolve("offsets/0"), "v1".getBytes): Unit
      }
      if (commits0) {
        Files.createDirectories(d.resolve("commits"))
        Files.write(d.resolve("commits/0"), "v1".getBytes): Unit
      }
      s"$d/sources/0"
    }
    def batch0Rows(metadataPath: String, extra: (String, String)*): Long = {
      val src = provider.createSource(spark.sqlContext, metadataPath,
        None, "graft-cdc", params ++ extra)
      // the chain walk (where the truncation throw lives) runs
      // eagerly in getBatch; counting goes through the underlying
      // LogicalRDD's rdd because the returned frame is marked
      // streaming and refuses batch execution
      src.getBatch(None, LongOffset(cur)).queryExecution.logical.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.count()
      }.head
    }

    // pending batch-0 replay: loud failure, named as a replay
    val e = intercept[IllegalStateException] { batch0Rows(mkCkpt(true, false)) }
    assert(e.getMessage.contains("REPLAY"), e.getMessage)
    // fresh checkpoint: synthetic genesis replays the surviving state
    assert(batch0Rows(mkCkpt(false, false)) == 30L)
    // batch 0 committed: restart's discarded init getBatch must not throw
    assert(batch0Rows(mkCkpt(true, true)) == 30L)
    // explicit opt-in overrides the replay detection (net-state sink)
    assert(batch0Rows(mkCkpt(true, false), "allow-synthetic-genesis" -> "true") == 30L)
    // explicit opt-out forbids synthetic genesis even on a fresh start
    val e2 = intercept[IllegalStateException] {
      batch0Rows(mkCkpt(false, false), "allow-synthetic-genesis" -> "false")
    }
    assert(e2.getMessage.contains("TRUNCATED"), e2.getMessage)
    // unrecognized checkpoint layout (metadataPath not under
    // <ckpt>/sources/<i>): the replay sniff can't run, so the guard
    // must fail SAFE — synthetic genesis forbidden, loud failure —
    // never silently revert to the unsafe pre-fix behavior
    val weird = Files.createTempDirectory("graft_cdc_rep_weird")
    val e3 = intercept[IllegalStateException] {
      batch0Rows(s"$weird/statemeta/0")
    }
    assert(e3.getMessage.contains("TRUNCATED"), e3.getMessage)
    // and the explicit opt-in still works from an unrecognized layout
    assert(batch0Rows(s"$weird/statemeta/0",
      "allow-synthetic-genesis" -> "true") == 30L)

    // regression guard: a REAL restart after batch-0 commit still
    // works on this truncated chain (MicroBatchExecution re-issues
    // getBatch(None, end0) as a discarded init call on restart; the
    // chain below end0 is expired, so commits/0 present must allow
    // the synthetic-genesis walk instead of throwing)
    val ckpt = Files.createTempDirectory("graft_cdc_rep_e2e").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    def start() = spark.readStream.format("graft-cdc")
      .option("warehouse", wh).option("location", "c/t")
      .load()
      .writeStream.foreachBatch(collector(seen))
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    try { q1.processAllAvailable() }
    finally { q1.stop(); graft.streaming.Hygiene.unload(q1.runId) }
    assert(seen.asScala.map(_._1).toSeq.sorted == (0L until 30L))
    spark.sql("INSERT INTO tcCdcRp.c.t VALUES (100)")
    seen.clear()
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(seen.asScala.toSeq.map(r => (r._1, r._2)) == Seq((100L, "insert")),
        s"restart after commit+expiry delivered wrong rows: ${seen.asScala.toSeq}")
    } finally { q2.stop(); graft.streaming.Hygiene.unload(q2.runId) }
  }

  test("property fuzz: genesis changelog replay reconstructs the final state under random histories") {
    // the changelog's core contract: for ANY commit history (appends,
    // COW and MOR deletes, overwrites, rollbacks) with the chain
    // intact, inserts-minus-deletes from a genesis replay equals the
    // live table, as multisets — every row exactly once, abandoned
    // lineages never emitted
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val wh = s"/tmp/graft_test_cdcfz$seed"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
      val c = s"tcCdcF$seed"
      spark.conf.set(s"spark.sql.catalog.$c", "graft.catalog.RelativeCatalog")
      spark.conf.set(s"spark.sql.catalog.$c.warehouse", wh)
      spark.sql(s"CREATE NAMESPACE $c.f")
      val mor = rnd.nextBoolean()
      spark.sql(s"CREATE TABLE $c.f.t (id BIGINT, v BIGINT)" +
        (if (mor) " TBLPROPERTIES ('write.delete.mode'='merge-on-read')" else ""))
      val ops = new TableOps(wh, "f/t")
      var hi = 0L
      (1 to 7).foreach { _ =>
        rnd.nextInt(10) match {
          case n if n < 5 => // append a fresh id range
            spark.sql(s"INSERT INTO $c.f.t SELECT id, id * 7 FROM range($hi, ${hi + 40})")
            hi += 40
          case 5 | 6 if hi > 0 => // row-level delete (COW or MOR per table mode)
            spark.sql(s"DELETE FROM $c.f.t WHERE id % ${2 + rnd.nextInt(4)} = 0")
          case 7 if hi > 0 => // overwrite: exceptAll state-diff path
            spark.sql(s"INSERT OVERWRITE $c.f.t SELECT id, id * 11 FROM range(0, ${hi / 2 max 1})")
          case 8 if hi > 0 => // expire ancestors: genesis replay must
            // reconstruct through the synthetic-genesis base (oldest
            // retained ancestor diffed against empty)
            Maintenance.expireSnapshots(ops, keepLast = 1 + rnd.nextInt(3))
          case _ => // rollback to a random earlier snapshot, then move on
            val snaps = ops.refresh().get._2.snapshots
            if (snaps.size > 1)
              Maintenance.rollbackTo(ops, snaps(rnd.nextInt(snaps.size - 1)).snapshotId)
        }
      }
      val meta = ops.refresh().get._2
      meta.currentSnapshot.foreach { cur =>
        val replayed = Changes.between(spark, ops, meta, 0L, cur.sequenceNumber)
          .map(_.groupBy("id", "v")
            .agg(org.apache.spark.sql.functions.sum(
              org.apache.spark.sql.functions.when(
                org.apache.spark.sql.functions.col("_change_type") === "insert", 1)
                .otherwise(-1)).as("n"))
            .filter(org.apache.spark.sql.functions.col("n") =!= 0)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
          .getOrElse(Set.empty[(Long, Long, Long)])
        val live = spark.table(s"$c.f.t").groupBy("id", "v")
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(replayed == live,
          s"seed=$seed mor=$mor: replay-state ${replayed.size} rows != live ${live.size}: " +
            s"missing=${(live -- replayed).take(5)} extra=${(replayed -- live).take(5)}")
      }
    }
  }

  test("computeUpdates: carry-over cancels with exact multiplicity, pairs become pre/post images") {
    import spark.implicits._
    val df = Seq(
      // id 1, ordinal 1: identical (delete,delete,insert) — ONE
      // carry-over pair cancels, the surplus delete must survive as a
      // plain delete (no insert left to pair with)
      (1L, "a", "delete", 1), (1L, "a", "delete", 1), (1L, "a", "insert", 1),
      // id 2, ordinal 1: value changed b -> c = a real update pair
      (2L, "b", "delete", 1), (2L, "c", "insert", 1),
      // id 3: plain insert stays
      (3L, "d", "insert", 1),
      // id 2 again but ordinal 2: no insert in THAT commit -> delete
      // (pairing must never cross commit boundaries)
      (2L, "b", "delete", 2)
    ).toDF("id", "v", "_change_type", "_change_ordinal")
    val out = graft.catalog.Changes.computeUpdates(df, Seq("id"))
      .as[(Long, String, String, Int)].collect().toSeq.sorted
    assert(out == Seq(
      (1L, "a", "delete", 1),
      (2L, "b", "delete", 2),
      (2L, "b", "update_preimage", 1),
      (2L, "c", "update_postimage", 1),
      (3L, "d", "insert", 1)), out.toString)
    // guard rails
    intercept[IllegalArgumentException] {
      graft.catalog.Changes.computeUpdates(df, Nil)
    }
    intercept[IllegalArgumentException] {
      graft.catalog.Changes.computeUpdates(df, Seq("nope"))
    }
    // the identifier contract: duplicate ids within one commit (after
    // carry-over cancel) would emit a corrupt 1-pre/2-post stream —
    // refused loudly, like Iceberg
    val dup = Seq(
      (7L, "a", "delete", 1), (7L, "b", "insert", 1), (7L, "c", "insert", 1)
    ).toDF("id", "v", "_change_type", "_change_ordinal")
    val e = intercept[Exception] {
      graft.catalog.Changes.computeUpdates(dup, Seq("id")).collect()
    }
    assert(e.getMessage.contains("uniquely identify") ||
      Option(e.getCause).exists(_.getMessage.contains("uniquely identify")),
      e.toString)
  }

  test("getBatch honors the engine-given start verbatim: a start-seq raised over a checkpoint never skips the commits in between") {
    // Kafka's startingOffsets semantic: the option is where a stream
    // WITHOUT state begins; once offsets are checkpointed, the
    // engine's (start, end) pair wins. Spark also REPLAYS the last
    // committed batch through getBatch on restart — re-clamping the
    // start to a raised start-seq would silently drop rows there
    // (between(raisedSeq, oldEnd) can even invert to an empty batch).
    val wh = "/tmp/graft_test_cdcss"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcCdcSs", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcCdcSs.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcCdcSs.c")
    spark.sql("CREATE TABLE tcCdcSs.c.t (id BIGINT)")
    spark.sql("INSERT INTO tcCdcSs.c.t VALUES (1)")  // seq 1
    spark.sql("INSERT INTO tcCdcSs.c.t VALUES (2)")  // seq 2
    spark.sql("INSERT INTO tcCdcSs.c.t VALUES (3)")  // seq 3
    val ops = new TableOps(wh, "c/t")
    // start-seq=3 on a source whose checkpoint says batch (1, 3]:
    // the engine-given pair must deliver commits 2 AND 3
    val src = new graft.streaming.GraftCdcSource(spark, ops, ops.refresh().get._2, 3L)
    val df = src.getBatch(Some(graft.streaming.CdcOffset(1)), graft.streaming.CdcOffset(3))
    // the frame is streaming-flagged (getBatch's contract): execute it
    // through the LogicalRDD seam, the same way CdcGenesisSplitSpec does
    val got = df.queryExecution.logical.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }.head
      .map(r => (r.getLong(0), r.getUTF8String(1).toString)).collect().toSet
    assert(got == Set((2L, "insert"), (3L, "insert")),
      s"raised start-seq must not re-clamp a replayed batch: $got")
  }

  test("planEnd plans from the engine-given start, not the start-seq option: admission and delivery agree") {
    // the planning twin of the getBatch pin above: if planEnd clamped
    // its base to a raised start-seq, the slice path would advance the
    // offset log past the unclamped commits getBatch would have
    // delivered (silent loss), and the pure-seq path would admit rows
    // its budget never counted
    val wh = "/tmp/graft_test_cdcpb"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcCdcPb", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcCdcPb.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcCdcPb.c")
    spark.sql("CREATE TABLE tcCdcPb.c.t (id BIGINT)")
    spark.sql("INSERT INTO tcCdcPb.c.t VALUES (1)")  // seq 1
    spark.sql("INSERT INTO tcCdcPb.c.t VALUES (2)")  // seq 2
    spark.sql("INSERT INTO tcCdcPb.c.t VALUES (3)")  // seq 3
    val ops = new TableOps(wh, "c/t")
    // option says 3, checkpointed start says 1: the next trigger under
    // max-commits-per-trigger=1 must admit commit 2 — walking from the
    // ENGINE's offset — not jump to the option and return seq 3's
    val src = new graft.streaming.GraftCdcSource(spark, ops, ops.refresh().get._2, 3L,
      maxCommitsPerTrigger = Some(1))
    val planned = src.latestOffset(graft.streaming.CdcOffset(1), src.getDefaultReadLimit)
    assert(planned == graft.streaming.CdcOffset(2),
      s"planning must start at the engine-given seq 1 and admit commit 2: $planned")
  }

  test("start-seq pins to the checkpoint at first run; a changed option on restart is ignored") {
    val wh = "/tmp/graft_test_cdcpin"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("/tmp/graft_cdcpin_ckpt"))
    spark.conf.set("spark.sql.catalog.tcCdcPn", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcCdcPn.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcCdcPn.c")
    spark.sql("CREATE TABLE tcCdcPn.c.t (id BIGINT)")
    spark.sql("INSERT INTO tcCdcPn.c.t VALUES (1)")
    spark.sql("INSERT INTO tcCdcPn.c.t VALUES (2)")
    val provider = new graft.streaming.GraftCdcSourceProvider
    val md = "/tmp/graft_cdcpin_ckpt/sources/0"
    def mk(params: (String, String)*) = provider.createSource(spark.sqlContext,
      md, None, "graft-cdc", Map("table" -> "tcCdcPn.c.t") ++ params)
    assert(mk("start-seq" -> "2").initialOffset() == graft.streaming.CdcOffset(2))
    // a raised/changed option on the SAME checkpoint is ignored (batch
    // 0's start is not in Spark's offset log — its replay must not
    // depend on the current option value)
    assert(mk("start-seq" -> "1").initialOffset() == graft.streaming.CdcOffset(2),
      "a changed start-seq must not re-bind an existing checkpoint")
    assert(mk().initialOffset() == graft.streaming.CdcOffset(2),
      "a dropped start-seq must not re-bind an existing checkpoint")
  }

  test("post-rollback commits diff against their actual parent (lineage walk)") {
    val wh = "/tmp/graft_test_cdcrb"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcCdcR", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcCdcR.warehouse", wh)
    spark.sql("CREATE NAMESPACE tcCdcR.c")
    spark.sql("CREATE TABLE tcCdcR.c.t (id BIGINT)")
    spark.sql("INSERT INTO tcCdcR.c.t VALUES (1)")          // seq 1 (A)
    spark.sql("INSERT OVERWRITE tcCdcR.c.t VALUES (2)")     // seq 2 (B, abandoned)
    val ops = new TableOps(wh, "c/t")
    val a = ops.refresh().get._2.snapshots.minBy(_.sequenceNumber)
    Maintenance.rollbackTo(ops, a.snapshotId)
    spark.sql("INSERT INTO tcCdcR.c.t VALUES (3)")          // seq 3 (C, parent A)
    val meta = ops.refresh().get._2
    val cur = meta.currentSnapshot.get.sequenceNumber

    // (A, C]: the lineage walk must yield C's changes against A —
    // exactly the inserted row 3 — and never consult abandoned B
    // (a seq-range filter would diff C against B and emit wrong rows)
    val rows = Changes.between(spark, ops, meta, a.sequenceNumber, cur)
      .get.collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("_change_type")))
    assert(rows.toSeq.sorted == Seq((3L, "insert")), rows.mkString(","))
  }
}
