package graft

import graft.catalog.{Maintenance, TableOps}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** CDC genesis catch-up admission: a FRESH `graft-cdc` stream over an
  * aged table owes the entire retained state as inserts — on a 100 TB
  * table that must NOT be one unbounded micro-batch. Under
  * `max-rows-per-trigger` the state splits at FILE granularity via
  * `{"seq":N,"idx":K}` offsets (stable path order), each slice a pure
  * function of retained metadata + the two offsets: bounded, disjoint,
  * checkpoint-resumable, deletes applied slice-locally, and the
  * incremental tail never piggybacks past the trigger's budget.
  * The source is a V1 `Source` + `SupportsAdmissionControl` +
  * `SupportsTriggerAvailableNow` (the Kafka/Delta-source shape), so
  * `latestOffset(start, limit)` caps apply from the very first
  * post-restart trigger and `Trigger.AvailableNow` drains natively.
  */
class CdcGenesisSplitSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def freshWh(name: String): String = {
    val wh = s"/tmp/graft_test_$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set(s"spark.sql.catalog.$name", "graft.catalog.RelativeCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    wh
  }

  private def gt(cat: String): graft.catalog.GraftTable =
    spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[graft.catalog.RelativeCatalog]
      .loadTable(Identifier.of(Array("st"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]

  /** 6 one-file appends (ids 0..59), a MOR delete of ids {7, 55}, then
    * expire to ONE retained snapshot: the genesis state is 6 files the
    * expired ancestors added PLUS live position-delete files — the
    * slice read must apply them locally, never resurrect rows. */
  private def agedMorTable(cat: String): Unit = {
    spark.sql(s"CREATE NAMESPACE $cat.st")
    spark.sql(s"CREATE TABLE $cat.st.t (id BIGINT) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    (0 until 6).foreach(i =>
      spark.range(i * 10, i * 10 + 10).coalesce(1).writeTo(s"$cat.st.t").append())
    spark.sql(s"DELETE FROM $cat.st.t WHERE id IN (7, 55)")
    Maintenance.expireSnapshots(gt(cat).ops, keepLast = 1): Unit
    val meta = gt(cat).meta
    assert(meta.snapshots.size == 1, s"setup: ${meta.snapshots.size} snapshots")
    assert(meta.currentSnapshot.get.parentId.isDefined,
      "setup: genesis must have an EXPIRED parent")
    assert(meta.currentSnapshot.get.deleteFiles.nonEmpty,
      "setup: genesis state must carry live MOR deletes")
  }

  private def collector(seen: java.util.Queue[(Long, String, Int, Long)]) =
    (df: org.apache.spark.sql.DataFrame, batchId: Long) => {
      df.collect().foreach(r => seen.add((r.getAs[Long]("id"),
        r.getAs[String]("_change_type"), r.getAs[Int]("_change_ordinal"), batchId)))
      (): Unit
    }

  test("fresh CDC stream over an aged table drains the genesis state as bounded insert slices; the tail stays budgeted") {
    freshWh("tcCdcGsp")
    agedMorTable("tcCdcGsp")
    // live tail AFTER aging — must wait for the drain, never ride an
    // over-budget genesis trigger
    (10 until 12).foreach(i =>
      spark.range(i * 10, i * 10 + 10).coalesce(1).writeTo("tcCdcGsp.st.t").append())
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Int, Long)]()
    val q = spark.readStream.format("graft-cdc")
      .option("table", "tcCdcGsp.st.t")
      .option("max-rows-per-trigger", "20")
      .load()
      .writeStream.foreachBatch(collector(seen))
      .outputMode("append").start()
    try q.processAllAvailable()
    finally { q.stop(); graft.streaming.Hygiene.unload(q.runId) }
    import scala.jdk.CollectionConverters._
    val byBatch = seen.asScala.toSeq.groupBy(_._4).toSeq.sortBy(_._1).map(_._2)
    assert(byBatch.size == 4,
      s"expected 3 genesis slices (6 files / 2 per 20-row budget) + 1 tail batch: " +
        s"${byBatch.map(_.size)}")
    assert(byBatch.forall(_.size <= 20), s"a batch exceeded the rows cap: ${byBatch.map(_.size)}")
    assert(seen.asScala.forall(_._2 == "insert"), "CDC catch-up is insert-only")
    val genesis = byBatch.take(3)
    assert(genesis.flatten.map(_._1).toSet == (0L until 60L).toSet -- Set(7L, 55L),
      "genesis slices must union to the surviving state (deletes applied slice-locally)")
    assert(genesis.map(_.size).sum == genesis.flatten.map(_._1).toSet.size,
      "overlapping genesis slices")
    assert(byBatch.last.map(_._1).toSet == (100L until 120L).toSet,
      s"tail batch wrong: ${byBatch.last.map(_._1).toSeq.sorted}")
  }

  test("a final genesis slice shares its trigger with tail commits the budget still admits (ordinals shift)") {
    freshWh("tcCdcGspM")
    spark.sql("CREATE NAMESPACE tcCdcGspM.st")
    spark.sql("CREATE TABLE tcCdcGspM.st.t (id BIGINT)")
    (0 until 3).foreach(i =>
      spark.range(i * 10, i * 10 + 10).coalesce(1).writeTo("tcCdcGspM.st.t").append())
    Maintenance.expireSnapshots(gt("tcCdcGspM").ops, keepLast = 1): Unit
    spark.range(100, 110).coalesce(1).writeTo("tcCdcGspM.st.t").append()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Int, Long)]()
    val q = spark.readStream.format("graft-cdc")
      .option("table", "tcCdcGspM.st.t")
      .option("max-rows-per-trigger", "20")
      .load()
      .writeStream.foreachBatch(collector(seen))
      .outputMode("append").start()
    try q.processAllAvailable()
    finally { q.stop(); graft.streaming.Hygiene.unload(q.runId) }
    import scala.jdk.CollectionConverters._
    val byBatch = seen.asScala.toSeq.groupBy(_._4).toSeq.sortBy(_._1).map(_._2)
    // batch 0: files[0,2) = 20 rows; batch 1: final slice (10) + the
    // 10-row append the remaining budget admits = 20 rows, two ordinals
    assert(byBatch.size == 2 && byBatch.forall(_.size == 20),
      s"expected two 20-row batches: ${byBatch.map(_.size)}")
    val mixed = byBatch.last
    val (slicePart, tailPart) = mixed.partition(_._1 < 100)
    assert(slicePart.size == 10 && tailPart.size == 10, s"mixed batch wrong: $mixed")
    assert(slicePart.forall(_._3 == 1) && tailPart.forall(_._3 == 2),
      s"tail ordinals must shift past the slice's ordinal 1: " +
        s"${mixed.map(r => (r._1, r._3)).toSeq.sorted}")
    assert(seen.asScala.map(_._1).toSeq.sorted ==
      ((0L until 30L) ++ (100L until 110L)), "rows lost or duplicated")
  }

  test("mid-genesis checkpoint resume: committed CDC slices never replay, remainder arrives exactly") {
    freshWh("tcCdcGspR")
    agedMorTable("tcCdcGspR")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdcgs_ckpt").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Int, Long)]()
    def start(trigger: Option[Trigger]) = {
      val w = spark.readStream.format("graft-cdc")
        .option("table", "tcCdcGspR.st.t")
        .option("max-rows-per-trigger", "20")
        .load()
        .writeStream.foreachBatch(collector(seen))
        .option("checkpointLocation", ckpt)
        .outputMode("append")
      trigger.fold(w)(w.trigger).start()
    }
    // a long trigger interval isolates exactly ONE micro-batch
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
    assert(run1.size >= 18 && run1.size <= 20, s"run 1 delivered ${run1.size} rows")
    // the checkpointed offset IS mid-genesis: {"seq":N,"idx":2}
    val off0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$ckpt/offsets/0")), "UTF-8")
    assert(off0.contains("\"idx\":2"), s"offset 0 not file-granular: $off0")

    seen.clear()
    val q2 = start(None)
    try q2.processAllAvailable()
    finally { q2.stop(); graft.streaming.Hygiene.unload(q2.runId) }
    val run2 = seen.asScala.toSeq.map(_._1).toSet
    assert(run2.intersect(run1).isEmpty, "committed genesis slice replayed after resume")
    assert(run1 ++ run2 == (0L until 60L).toSet -- Set(7L, 55L),
      s"rows lost across the restart: ${(run1 ++ run2).size}")
  }

  test("Trigger.AvailableNow CDC drain: rate-limited catch-up equals the batch $changes read, then stops") {
    freshWh("tcCdcGspA")
    agedMorTable("tcCdcGspA")
    (10 until 12).foreach(i =>
      spark.range(i * 10, i * 10 + 10).coalesce(1).writeTo("tcCdcGspA.st.t").append())
    // the batch CDC spelling over the same range: genesis state +
    // the two appends, all inserts
    val ops = gt("tcCdcGspA").ops
    val meta = ops.refresh().get._2
    val expected = graft.catalog.Changes
      .between(spark, ops, meta, 0L,
        meta.currentSnapshot.get.sequenceNumber).get
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("_change_type"))).toSeq.sorted
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Int, Long)]()
    val q = spark.readStream.format("graft-cdc")
      .option("table", "tcCdcGspA.st.t")
      .option("max-rows-per-trigger", "20")
      .load()
      .writeStream.foreachBatch(collector(seen))
      .trigger(Trigger.AvailableNow())
      .outputMode("append").start()
    try assert(q.awaitTermination(120000), "AvailableNow CDC query did not stop")
    finally { q.stop(); graft.streaming.Hygiene.unload(q.runId) }
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq.map(r => (r._1, r._2)).sorted == expected,
      "AvailableNow drain != batch $changes read")
    val sizes = seen.asScala.toSeq.groupBy(_._4).values.map(_.size).toSeq
    assert(sizes.size >= 4 && sizes.forall(_ <= 20),
      s"drain not rate-limited: $sizes")
  }

  test("a crash mid-genesis-drain never sticks the stream: slice replays are deterministic, only explicit opt-out refuses") {
    // crash after offsets/0 ({"seq":g,"idx":K}) but before commits/0:
    // the provider's pending-replay sniff flips allowSyntheticGenesis
    // off, which must NOT refuse the recovery SLICE replay — a slice
    // is pinned to one immutable snapshot (expiry of it fails loudly
    // in its own check), unlike the unsplit between(0,T) recompute the
    // sniff exists for. The explicit user opt-out still refuses.
    freshWh("tcCdcGspC")
    agedMorTable("tcCdcGspC")
    val ops = gt("tcCdcGspC").ops
    val meta = ops.refresh().get._2
    val gseq = meta.currentSnapshot.get.sequenceNumber
    val provider = new graft.streaming.GraftCdcSourceProvider
    val params = Map("warehouse" -> ops.warehouse, "location" -> "st/t",
      "max-rows-per-trigger" -> "20")
    def mkPendingReplayCkpt(): String = {
      val d = java.nio.file.Files.createTempDirectory("graft_cdcgs_rep")
      java.nio.file.Files.createDirectories(d.resolve("offsets"))
      java.nio.file.Files.write(d.resolve("offsets/0"), "v1".getBytes): Unit
      s"$d/sources/0"
    }
    def sliceRows(extra: (String, String)*): Long = {
      val src = provider.createSource(spark.sqlContext, mkPendingReplayCkpt(),
        None, "graft-cdc", params ++ extra)
      src.getBatch(None, graft.streaming.CdcOffset(gseq, 2))
        .queryExecution.logical.collect {
          case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.count()
        }.head
    }
    // recovery slice replay works (2 files x 10 records, minus any
    // slice-local deletes)
    val n = sliceRows()
    assert(n >= 18 && n <= 20, s"slice replay delivered $n rows")
    // explicit opt-out keeps refusing net-state slices
    val e = intercept[IllegalStateException] {
      sliceRows("allow-synthetic-genesis" -> "false")
    }
    assert(e.getMessage.contains("allow-synthetic-genesis=false"), e.getMessage)
  }

  test("offset migration: pre-split bare-number checkpoints and both JSON forms parse") {
    freshWh("tcCdcGspO")
    spark.sql("CREATE NAMESPACE tcCdcGspO.st")
    spark.sql("CREATE TABLE tcCdcGspO.st.t (id BIGINT)")
    spark.sql("INSERT INTO tcCdcGspO.st.t VALUES (1)")
    val ops = new TableOps(s"/tmp/graft_test_tcCdcGspO", "st/t")
    val src = new graft.streaming.GraftCdcSource(spark, ops, ops.refresh().get._2, 0L)
    import graft.streaming.CdcOffset
    assert(src.deserializeOffset("5") == CdcOffset(5))          // r17- LongOffset checkpoint
    assert(src.deserializeOffset(""" {"seq":7} """) == CdcOffset(7))
    assert(src.deserializeOffset("""{"seq":7,"idx":3}""") == CdcOffset(7, 3))
    assert(CdcOffset(7).json == """{"seq":7}""")
    assert(CdcOffset(7, 3).json == """{"seq":7,"idx":3}""")
    // a legacy offset fed to getBatch as the start still seq-parses
    import org.apache.spark.sql.execution.streaming.runtime.SerializedOffset
    val df = src.getBatch(Some(SerializedOffset("0")), CdcOffset(1))
    assert(df.schema.fieldNames.contains("_change_type"))
  }
}
