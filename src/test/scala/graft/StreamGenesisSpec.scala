package graft

import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Genesis catch-up admission control: a FRESH stream over an aged
  * table owes the entire retained state as its first deliverable —
  * on a 100 TB table that must NOT be one unbounded micro-batch.
  * (seq, fileIdx) offsets split the genesis state at file granularity
  * under max-files/rows-per-trigger, replayably: every slice is a
  * pure function of the retained metadata and the two offsets.
  * Also pins streaming over `add_files`-imported (field-id-less)
  * files, which resolve through the table's frozen name mapping.
  */
class StreamGenesisSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def freshWh(name: String): String = {
    val wh = s"/tmp/graft_test_$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set(s"spark.sql.catalog.$name", "graft.catalog.RelativeCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    wh
  }

  private def gt(cat: String, ns: String, t: String): graft.catalog.GraftTable =
    spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[graft.catalog.RelativeCatalog]
      .loadTable(Identifier.of(Array(ns), t))
      .asInstanceOf[graft.catalog.GraftTable]

  /** 12 one-file appends (ids 0..59), then expire to ONE retained
    * snapshot — the aged-table shape whose genesis state is 12 files
    * that since-expired ancestors added. */
  private def agedTable(cat: String): Unit = {
    spark.sql(s"CREATE NAMESPACE $cat.st")
    spark.sql(s"CREATE TABLE $cat.st.t (id BIGINT)")
    (0 until 12).foreach(i =>
      spark.range(i * 5, i * 5 + 5).coalesce(1).writeTo(s"$cat.st.t").append())
    // returns orphaned FILES (0 on a pure-append chain) — assert on
    // the retained snapshot count instead
    graft.catalog.Maintenance.expireSnapshots(gt(cat, "st", "t").ops,
      keepLast = 1): Unit
    val t = gt(cat, "st", "t")
    assert(t.meta.snapshots.size == 1, s"setup: ${t.meta.snapshots.size} snapshots")
    val snap = t.readSnapshot.get
    assert(snap.dataFileCount == 12, s"setup: ${snap.dataFileCount} files")
    assert(snap.parentId.isDefined, "setup: genesis must have an EXPIRED parent")
  }

  test("fresh stream over an aged table drains the genesis state in ceil(N/k) bounded batches") {
    freshWh("tcGen")
    agedTable("tcGen")
    val batches = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q = spark.readStream
      .option("max-files-per-trigger", "4")
      .table("tcGen.st.t")
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
        val ids = df.collect().map(_.getLong(0)).toSet
        if (ids.nonEmpty) batches.synchronized { batches += ids }
        ()
      })
      .start()
    try {
      q.processAllAvailable()
      val got = batches.synchronized { batches.toList }
      // 12 one-file snapshots of state / 4 files per trigger = 3 batches
      assert(got.size == 3, s"expected ceil(12/4)=3 batches, got ${got.map(_.size)}")
      assert(got.forall(_.size == 20), s"each batch = 4 files x 5 rows: ${got.map(_.size)}")
      // exactly-once: disjoint slices that union to the full state
      assert(got.map(_.size).sum == got.flatten.toSet.size, "overlapping batches")
      assert(got.flatten.toSet == (0L until 60L).toSet, "rows lost or invented")
    } finally q.stop()
  }

  test("mid-genesis checkpoint resume: committed slices never replay, remainder arrives exactly") {
    freshWh("tcGenR")
    agedTable("tcGenR")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_genesis_ckpt").toString
    val run1 = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    // a long trigger interval isolates exactly ONE micro-batch before stop
    val q1 = spark.readStream
      .option("max-files-per-trigger", "4")
      .table("tcGenR.st.t")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("5 minutes"))
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
        val ids = df.collect().map(_.getLong(0)).toSet
        if (ids.nonEmpty) run1.synchronized { run1 += ids }
        ()
      })
      .start()
    try {
      // wait for batch 0's COMMIT (offsets are written before the batch
      // runs; the commit marker after) so the restart owes none of it
      val commit0 = new java.io.File(s"$ckpt/commits/0")
      val deadline = System.currentTimeMillis() + 120000
      while (!commit0.exists() && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(commit0.exists(), "batch 0 never committed")
    } finally q1.stop()
    val got1 = run1.synchronized { run1.toList }
    assert(got1.size == 1 && got1.head.size == 20, s"run 1: ${got1.map(_.size)}")
    // the checkpointed offset IS mid-genesis: (seq, fileIdx=4)
    val off0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$ckpt/offsets/0")), "UTF-8")
    assert(off0.contains("\"idx\":4"), s"offset 0 not file-granular: $off0")

    val run2 = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q2 = spark.readStream
      .option("max-files-per-trigger", "4")
      .table("tcGenR.st.t")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
        val ids = df.collect().map(_.getLong(0)).toSet
        if (ids.nonEmpty) run2.synchronized { run2 += ids }
        ()
      })
      .start()
    try {
      q2.processAllAvailable()
      val got2 = run2.synchronized { run2.toList }
      assert(got2.map(_.size).sum == 40,
        s"resume must deliver exactly the remaining 8 files: ${got2.map(_.size)}")
      assert(got2.flatten.toSet.intersect(got1.head).isEmpty,
        "committed genesis slice replayed after resume")
      assert((got1.head ++ got2.flatten).toSet == (0L until 60L).toSet,
        "rows lost across the restart")
    } finally q2.stop()
  }

  test("Trigger.AvailableNow over an aged table: rate-limited drain equals the batch read, then stops") {
    freshWh("tcGenAn")
    agedTable("tcGenAn")
    // live tail AFTER aging: genesis slices + incremental snapshots
    (12 until 14).foreach(i =>
      spark.range(i * 5, i * 5 + 5).coalesce(1).writeTo("tcGenAn.st.t").append())
    val expected = spark.table("tcGenAn.st.t").collect().map(_.getLong(0)).toSet
    assert(expected.size == 70)
    val batches = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q = spark.readStream
      .option("max-files-per-trigger", "4")
      .table("tcGenAn.st.t")
      .writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
        val ids = df.collect().map(_.getLong(0)).toSet
        if (ids.nonEmpty) batches.synchronized { batches += ids }
        ()
      })
      .start()
    assert(q.awaitTermination(120000), "AvailableNow query did not stop")
    val got = batches.synchronized { batches.toList }
    // stream drain == batch read: the strongest end-to-end equivalence
    assert(got.flatten.toSet == expected, "stream drain != batch read")
    assert(got.map(_.size).sum == expected.size, "duplicate delivery")
    // and it actually drained bounded: 3 genesis slices + the tail
    assert(got.size >= 4, s"genesis not split: ${got.map(_.size)}")
    assert(got.forall(_.size <= 20), s"a batch exceeded 4 files: ${got.map(_.size)}")
  }

  test("genesis split under a ROWS cap with uneven files: every batch bounded or a single file") {
    freshWh("tcGenRw")
    spark.sql("CREATE NAMESPACE tcGenRw.st")
    spark.sql("CREATE TABLE tcGenRw.st.t (id BIGINT)")
    // uneven one-file commits: 3,7,2,9,1,4 rows (26 total); slice
    // order is PATH order (uuid dirs), so assert the admission
    // PROPERTY, not a specific grouping
    val sizes = Seq(3, 7, 2, 9, 1, 4)
    var next = 0L
    sizes.foreach { n =>
      spark.range(next, next + n).coalesce(1).writeTo("tcGenRw.st.t").append()
      next += n
    }
    graft.catalog.Maintenance.expireSnapshots(
      gt("tcGenRw", "st", "t").ops, keepLast = 1): Unit
    assert(gt("tcGenRw", "st", "t").meta.snapshots.size == 1)
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    val q = spark.readStream
      .option("max-rows-per-trigger", "10")
      .table("tcGenRw.st.t")
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
        val ids = df.collect().map(_.getLong(0)).toSeq
        if (ids.nonEmpty) batches.synchronized { batches += ids }
        ()
      })
      .start()
    try {
      q.processAllAvailable()
      val got = batches.synchronized { batches.toList }
      assert(got.flatten.sorted == (0L until 26L),
        s"rows lost, invented, or duplicated: ${got.map(_.size)}")
      // the cap property: a batch only exceeds 10 rows if it is ONE
      // unsplittable file (no file here exceeds 10, so: all <= 10)
      assert(got.forall(_.size <= 10), s"a batch exceeded the rows cap: ${got.map(_.size)}")
      assert(got.size >= 3, s"26 rows / 10-cap must take >= 3 batches: ${got.map(_.size)}")
    } finally q.stop()
  }

  test("a single oversized append commit splits at file granularity instead of one unbounded batch") {
    // the 10-TB-batch-insert shape: ONE append snapshot whose added
    // set exceeds the caps must drain as ⌈files/cap⌉ bounded slices
    // ({"seq":N,"idx":K,"unit":"added"} offsets), not ride the
    // progress guarantee as one giant micro-batch
    freshWh("tcGenOsz")
    spark.sql("CREATE NAMESPACE tcGenOsz.st")
    spark.sql("CREATE TABLE tcGenOsz.st.t (id BIGINT)")
    spark.sql("INSERT INTO tcGenOsz.st.t VALUES (0)")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_osz_ckpt").toString
    val batches = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    def start() = spark.readStream
      .option("max-files-per-trigger", "2")
      .table("tcGenOsz.st.t")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
        val ids = df.collect().map(_.getLong(0)).toSet
        if (ids.nonEmpty) batches.synchronized { batches += ids }
        ()
      })
      .start()
    val q = start()
    try {
      q.processAllAvailable()
      // one commit, 8 files, 40 rows — far over the 2-file cap
      spark.range(100, 140).repartition(8).writeTo("tcGenOsz.st.t").append()
      assert(gt("tcGenOsz", "st", "t").ops.refresh().get._2.snapshots.size == 2,
        "setup: the 8-file insert must be ONE commit")
      q.processAllAvailable()
      val got = batches.synchronized { batches.toList }
      assert(got.size == 5, s"expected seed + ceil(8/2)=4 slices: ${got.map(_.size)}")
      // repartition hashes rows unevenly across the 8 files, so pin
      // the SLICE property (2 files each), not a uniform row count
      assert(got.tail.forall(s => s.nonEmpty && s.size < 40),
        s"a slice was empty or unbounded: ${got.map(_.size)}")
      assert(got.tail.flatten.toSet == (100L until 140L).toSet, "rows lost or invented")
      assert(got.tail.map(_.size).sum == got.tail.flatten.toSet.size, "overlapping slices")
      val offs = new java.io.File(s"$ckpt/offsets").listFiles().map(f =>
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      assert(offs.exists(_.contains(""""unit":"added"""")),
        s"no added-unit offset written: ${offs.mkString(" | ")}")
    } finally q.stop()

    // exactly-once across a pure-seq RESTART: resume must deliver the
    // remaining slices of the split append, never replay committed ones
    spark.range(200, 240).repartition(8).writeTo("tcGenOsz.st.t").append()
    batches.synchronized(batches.clear())
    val q2 = start()
    try {
      q2.processAllAvailable()
      val got = batches.synchronized { batches.toList }
      assert(got.map(_.size).sum == 40 && got.flatten.toSet == (200L until 240L).toSet,
        s"restart drain wrong: ${got.map(_.size)}")
      assert(got.size == 4, s"restart drain must stay split: ${got.map(_.size)}")
    } finally q2.stop()

    // MID-added-unit restart: stop with the checkpoint parked INSIDE a
    // split append ({"seq":N,"idx":K,"unit":"added"} on disk), then
    // resume — the committed slice must never replay and the rest of
    // the unit must arrive exactly (this is the path where dropping
    // the unit flag would re-bind slice indices to the genesis STATE
    // list and deliver wrong rows)
    spark.range(300, 340).repartition(8).writeTo("tcGenOsz.st.t").append()
    def numericMax(dir: String): Long =
      Option(new java.io.File(dir).listFiles()).map(_.map(_.getName)
        .filter(_.forall(_.isDigit)).map(_.toLong))
        .filter(_.nonEmpty).map(_.max).getOrElse(-1L)
    val committedBefore = numericMax(s"$ckpt/commits")
    batches.synchronized(batches.clear())
    val q3 = spark.readStream
      .option("max-files-per-trigger", "2")
      .table("tcGenOsz.st.t")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("5 minutes"))
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
        val ids = df.collect().map(_.getLong(0)).toSet
        if (ids.nonEmpty) batches.synchronized { batches += ids }
        ()
      })
      .start()
    try {
      val deadline = System.currentTimeMillis() + 120000
      def newestCommit() = numericMax(s"$ckpt/commits")
      while (newestCommit() <= committedBefore && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(newestCommit() > committedBefore, "first slice batch never committed")
    } finally q3.stop()
    val sliced = batches.synchronized { batches.toList }
    assert(sliced.size == 1, s"5-minute trigger must isolate ONE slice: ${sliced.map(_.size)}")
    val offJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$ckpt/offsets/${numericMax(s"$ckpt/offsets")}")), "UTF-8")
    assert(offJson.contains(""""idx":2""") && offJson.contains(""""unit":"added""""),
      s"checkpoint not parked mid-added-unit: $offJson")
    batches.synchronized(batches.clear())
    val q4 = start()
    try {
      q4.processAllAvailable()
      val rest = batches.synchronized { batches.toList }
      assert(rest.flatten.toSet.intersect(sliced.head).isEmpty,
        "committed added-unit slice replayed after resume")
      assert(sliced.head ++ rest.flatten.toSet == (300L until 340L).toSet,
        s"rows lost across the mid-unit restart: got ${(sliced.head ++ rest.flatten).size}")
      assert(rest.size == 3, s"resume must drain the remaining 6 files as 3 slices: ${rest.map(_.size)}")
    } finally q4.stop()

    // and the offset JSON round-trips through the source's own parser
    val stream = new graft.catalog.GraftMicroBatchStream(
      gt("tcGenOsz", "st", "t"),
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Collections.emptyMap()),
      gt("tcGenOsz", "st", "t").schema(), Nil)
    assert(stream.deserializeOffset("""{"seq":9,"idx":4,"unit":"added"}""") ==
      graft.catalog.SeqOffset(9, 4, added = true))
    assert(graft.catalog.SeqOffset(9, 4, added = true).json ==
      """{"seq":9,"idx":4,"unit":"added"}""")
    assert(stream.deserializeOffset("""{"seq":9,"idx":4}""") ==
      graft.catalog.SeqOffset(9, 4))
  }

  test("an oversized append on a BRANCH tail splits the same way (admission is lineage-agnostic)") {
    // write-audit-publish read side under rate limits: the audit
    // branch gets one 8-file commit; the branch tail must drain it as
    // file-granular slices while main sees none of it
    freshWh("tcGenOszB")
    spark.sql("CREATE NAMESPACE tcGenOszB.st")
    spark.sql("CREATE TABLE tcGenOszB.st.t (id BIGINT)")
    spark.sql("INSERT INTO tcGenOszB.st.t VALUES (0)")
    spark.sql("CALL tcGenOszB.system.create_ref(tbl => 'st.t', ref => 'audit', ref_type => 'branch')")
    val batches = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q = spark.readStream
      .option("branch", "audit")
      .option("max-files-per-trigger", "2")
      .table("tcGenOszB.st.t")
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
        val ids = df.collect().map(_.getLong(0)).toSet
        if (ids.nonEmpty) batches.synchronized { batches += ids }
        ()
      })
      .start()
    try {
      q.processAllAvailable() // the seed (on main lineage, pre-fork)
      graft.catalog.Maintenance.appendToBranch(gt("tcGenOszB", "st", "t"),
        spark.range(100, 140).repartition(8).toDF(), "audit")
      q.processAllAvailable()
      val got = batches.synchronized { batches.toList }
      assert(got.size == 5, s"expected seed + 4 branch slices: ${got.map(_.size)}")
      assert(got.tail.flatten.toSet == (100L until 140L).toSet &&
        got.tail.map(_.size).sum == 40, s"branch slices wrong: ${got.map(_.size)}")
      // main readers see none of the audit rows
      assert(spark.table("tcGenOszB.st.t").collect().map(_.getLong(0)).toSet == Set(0L),
        "audit-branch rows leaked to main")
    } finally q.stop()
  }

  test("uncapped fresh stream still delivers the genesis state as one batch") {
    freshWh("tcGenU")
    agedTable("tcGenU")
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.table("tcGenU.st.t")
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
        val n = df.count()
        if (n > 0) batches.synchronized { batches += n }
        ()
      })
      .start()
    try {
      q.processAllAvailable()
      assert(batches.synchronized(batches.toList) == List(60L))
    } finally q.stop()
  }

  test("a genesis snapshot with live position and equality deletes streams its live rows, split or not") {
    freshWh("tcGenDel")
    spark.sql("CREATE NAMESPACE tcGenDel.st")
    spark.sql("CREATE TABLE tcGenDel.st.t (id BIGINT)")
    (0 until 4).foreach(i =>
      spark.range(i * 5, i * 5 + 5).coalesce(1).writeTo("tcGenDel.st.t").append())
    import TestSpark.TableFiles
    val t0 = gt("tcGenDel", "st", "t")
    t0.commitDeletes(Seq(Seq(t0.positionsById(3L))), equalityIds = Seq(12L))
    graft.catalog.Maintenance.expireSnapshots(gt("tcGenDel", "st", "t").ops,
      keepLast = 1): Unit
    val genesis = gt("tcGenDel", "st", "t").readSnapshot.get
    assert(gt("tcGenDel", "st", "t").meta.snapshots.size == 1 &&
      genesis.deleteFiles.count(graft.catalog.Mor.isEquality) == 1 &&
      genesis.deleteFiles.count(!graft.catalog.Mor.isEquality(_)) == 1,
      s"setup: the only retained snapshot carries one live delete of each kind")
    val live = spark.table("tcGenDel.st.t").collect().map(_.getLong(0)).sorted.toList
    assert(live == (0L until 20L).filterNot(Set(3L, 12L)).toList)
    def drain(opts: (String, String)*): List[List[Long]] = {
      val batches = scala.collection.mutable.ArrayBuffer.empty[List[Long]]
      val q = spark.readStream.options(opts.toMap).table("tcGenDel.st.t")
        .writeStream
        .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
          val ids = df.collect().map(_.getLong(0)).toList
          if (ids.nonEmpty) batches.synchronized { batches += ids }
          ()
        })
        .start()
      try q.processAllAvailable() finally q.stop()
      batches.synchronized(batches.toList)
    }
    val whole = drain()
    assert(whole.size == 1 && whole.head.sorted == live, s"uncapped drain: $whole")
    val split = drain("max-files-per-trigger" -> "1")
    assert(split.size == 4, s"one batch per genesis file: $split")
    assert(split.flatten.sorted == live, s"split drain: $split")
  }

  test("streaming checkpoints survive warehouse relocation (offsets are seqs, not paths)") {
    // the reference's thesis extended to streaming state: a checkpoint
    // written against one warehouse location resumes against the MOVED
    // warehouse, because offsets are commit sequence numbers and every
    // path in the metadata is warehouse-relative
    val wh1 = "/tmp/graft_test_genmv_a"
    val wh2 = "/tmp/graft_test_genmv_b"
    Seq(wh1, wh2).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    spark.conf.set("spark.sql.catalog.tcGenMv", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcGenMv.warehouse", wh1)
    spark.sql("CREATE NAMESPACE tcGenMv.st")
    spark.sql("CREATE TABLE tcGenMv.st.t (id BIGINT)")
    (0 until 3).foreach(i =>
      spark.range(i * 10, i * 10 + 10).coalesce(1).writeTo("tcGenMv.st.t").append())
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mv_ckpt").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    def run(session: org.apache.spark.sql.SparkSession): Unit = {
      val q = session.readStream.table("tcGenMv.st.t")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
          got.synchronized { got ++= df.collect().map(_.getLong(0)) }
          ()
        })
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run(spark)
    assert(got.synchronized(got.toSet) == (0L until 30L).toSet)

    // relocate the whole warehouse; catalog instances are cached per
    // (session, name), so the re-pointed registration needs a fresh
    // session (same catalog NAME keeps the checkpointed plan binding)
    assert(new java.io.File(wh1).renameTo(new java.io.File(wh2)))
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.tcGenMv", "graft.catalog.RelativeCatalog")
    s2.conf.set("spark.sql.catalog.tcGenMv.warehouse", wh2)
    s2.sql("INSERT INTO tcGenMv.st.t SELECT id FROM range(30, 35)")
    got.clear()
    run(s2)
    assert(got.synchronized(got.toSet) == (30L until 35L).toSet,
      s"resume after relocation must deliver exactly the post-checkpoint commit: " +
        s"${got.synchronized(got.toSet)}")
  }

  test("readStream survives the SPJ batch-scan route (preserveDataGrouping session)") {
    freshWh("tcGenSpj")
    spark.sql("CREATE NAMESPACE tcGenSpj.st")
    spark.sql("CREATE TABLE tcGenSpj.st.t (id BIGINT, k INT) PARTITIONED BY (k)")
    spark.sql("INSERT INTO tcGenSpj.st.t VALUES (1, 1), (2, 2)")
    Dsl.withConf(spark, graft.catalog.KeyGrouping.PreserveGroupingKey -> "true",
        "spark.sql.sources.v2.bucketing.enabled" -> "true") {
      // the batch scan reports key-grouped partitioning in this
      // session — the streaming surface must still be served, not
      // throw Spark's unsupported-stream error
      val got = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = spark.readStream.table("tcGenSpj.st.t")
        .writeStream
        .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
          got.synchronized { got ++= df.collect().map(_.getLong(0)) }
          ()
        })
        .start()
      try {
        q.processAllAvailable()
        assert(got.synchronized(got.toSet) == Set(1L, 2L))
      } finally q.stop()
    }
  }

  test("a FIRST add_files landing mid-stream reads through the just-frozen mapping") {
    val wh = freshWh("tcGenMid")
    import spark.implicits._
    spark.sql("CREATE NAMESPACE tcGenMid.st")
    spark.sql("CREATE TABLE tcGenMid.st.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO tcGenMid.st.t VALUES (1, 'native')")
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = spark.readStream.table("tcGenMid.st.t")
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
        rows.synchronized { rows ++= df.collect().map(r => (r.getLong(0), r.getString(1))) }
        ()
      })
      .start()
    try {
      q.processAllAvailable()
      // the table had NO name mapping when the stream started; this
      // import freezes one mid-stream, and the next micro-batch must
      // plan/read against the FRESH mapping, not the load-time one
      Seq((10L, "imp_mid")).toDF("id", "v")
        .coalesce(1).write.parquet(s"$wh/staged_mid")
      assert(graft.catalog.Maintenance.addFiles(spark,
        gt("tcGenMid", "st", "t"), "staged_mid") >= 1)
      q.processAllAvailable()
      assert(rows.synchronized(rows.toSet) ==
        Set((1L, "native"), (10L, "imp_mid")), s"got ${rows.synchronized(rows.toSet)}")
    } finally q.stop()
  }

  test("streaming reads add_files-imported files through the name mapping (post-rename too)") {
    val wh = freshWh("tcGenNm")
    import spark.implicits._
    spark.sql("CREATE NAMESPACE tcGenNm.st")
    spark.sql("CREATE TABLE tcGenNm.st.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO tcGenNm.st.t VALUES (1, 'native')")
    // foreign files: plain Spark write, NO parquet field ids
    Seq((10L, "imp_a"), (11L, "imp_b")).toDF("id", "v")
      .coalesce(1).write.parquet(s"$wh/staged_in")
    assert(graft.catalog.Maintenance.addFiles(spark,
      gt("tcGenNm", "st", "t"), "staged_in") >= 1)
    // post-import rename: imported files must resolve through the
    // FROZEN mapping (id -> 'v'), native files by field id
    spark.sql("ALTER TABLE tcGenNm.st.t RENAME COLUMN v TO label")
    spark.sql("INSERT INTO tcGenNm.st.t VALUES (2, 'native2')")
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = spark.readStream.table("tcGenNm.st.t")
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
        val got = df.collect().map(r => (r.getLong(0), r.getString(1)))
        rows.synchronized { rows ++= got }
        ()
      })
      .start()
    try {
      q.processAllAvailable()
      assert(rows.synchronized(rows.toSet) == Set(
        (1L, "native"), (10L, "imp_a"), (11L, "imp_b"), (2L, "native2")),
        s"got ${rows.synchronized(rows.toSet)}")
    } finally q.stop()

    // and under rate limits: the mixed native+imported genesis splits
    // into bounded slices with the same exact total
    val batches = scala.collection.mutable.ArrayBuffer.empty[Int]
    val q2 = spark.readStream
      .option("max-files-per-trigger", "1")
      .table("tcGenNm.st.t")
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
        val n = df.collect().length
        if (n > 0) batches.synchronized { batches += n }
        ()
      })
      .start()
    try {
      q2.processAllAvailable()
      val got = batches.synchronized { batches.toList }
      assert(got.sum == 4, s"rate-limited mixed drain lost rows: $got")
      assert(got.size >= 3, s"genesis not split at file granularity: $got")
    } finally q2.stop()
  }
}
