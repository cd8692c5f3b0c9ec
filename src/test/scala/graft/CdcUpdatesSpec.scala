package graft

import org.scalatest.funsuite.AnyFunSuite

/** Streaming update images: `compute-updates=true` +
  * `identifier-columns` refines each micro-batch's identifier-keyed
  * delete+insert pairs into update_preimage/update_postimage — the
  * streaming spelling of create_changelog_view(compute_updates), same
  * kernel (Changes.computeUpdates, two keyed window passes, no
  * self-join) as the batch surface q_cat_changelog_updates oracles.
  * Pairing is per (identifier, ordinal), and every admission shape
  * delivers a commit's pairs in ONE batch (slices are type-pure or
  * commit-whole) — except the split-row-level rows unit, which can cut
  * a pair in half across slices: that combination is REFUSED. */
class CdcUpdatesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def freshWh(name: String): String = {
    val wh = s"/tmp/graft_test_$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set(s"spark.sql.catalog.$name", "graft.catalog.RelativeCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    wh
  }

  private def collector(seen: java.util.Queue[(Long, String, String, Long)]) =
    (df: org.apache.spark.sql.DataFrame, batchId: Long) => {
      df.collect().foreach(r => seen.add((r.getAs[Long]("id"),
        String.valueOf(r.get(r.fieldIndex("v"))), // v as text: STRING and BIGINT tables share the helper
        r.getAs[String]("_change_type"), batchId)))
      (): Unit
    }

  private def updatesStream(cat: String,
      seen: java.util.Queue[(Long, String, String, Long)],
      extra: (String, String)*) = {
    var r = spark.readStream.format("graft-cdc")
      .option("table", s"$cat.st.t")
      .option("compute-updates", "true")
      .option("identifier-columns", "id")
    extra.foreach { case (k, v) => r = r.option(k, v) }
    r.load()
      .writeStream.foreachBatch(collector(seen))
      .outputMode("append").start()
  }

  test("a COW UPDATE streams as update_preimage/update_postimage pairs; carry-over rows cancel") {
    freshWh("tCdcUp")
    spark.sql("CREATE NAMESPACE tCdcUp.st")
    spark.sql("CREATE TABLE tCdcUp.st.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO tCdcUp.st.t SELECT id, concat('v', id) FROM range(0, 10)")
    spark.sql("UPDATE tCdcUp.st.t SET v = concat(v, 'u') WHERE id < 4") // seq 2, COW
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String, Long)]()
    val q = updatesStream("tCdcUp", seen, "start-seq" -> "1")
    try q.processAllAvailable()
    finally { q.stop(); graft.streaming.Hygiene.unload(q.runId) }
    import scala.jdk.CollectionConverters._
    val rows = seen.asScala.toSet
    // a COW update rewrites whole files: ids 4..9 surface as identical
    // delete+insert pairs and MUST cancel; ids 0..3 pair into images
    assert(rows.map(r => (r._1, r._2, r._3)) ==
      (0L until 4L).flatMap(i => Seq(
        (i, s"v$i", "update_preimage"),
        (i, s"v${i}u", "update_postimage"))).toSet,
      s"update refinement wrong: $rows")
  }

  test("a MOR UPDATE (delta: added rows + position deletes) refines to the same images") {
    freshWh("tCdcUpM")
    spark.sql("CREATE NAMESPACE tCdcUpM.st")
    spark.sql("CREATE TABLE tCdcUpM.st.t (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('write.update.mode'='merge-on-read')")
    spark.sql("INSERT INTO tCdcUpM.st.t SELECT id, concat('v', id) FROM range(0, 10)")
    spark.sql("UPDATE tCdcUpM.st.t SET v = concat(v, 'u') WHERE id < 4")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String, Long)]()
    val q = updatesStream("tCdcUpM", seen, "start-seq" -> "1")
    try q.processAllAvailable()
    finally { q.stop(); graft.streaming.Hygiene.unload(q.runId) }
    import scala.jdk.CollectionConverters._
    val rows = seen.asScala.toSet
    // MOR touches only the matched rows — no carry-over to cancel, and
    // the delta fast path's insert+delete pairs refine identically
    assert(rows.map(r => (r._1, r._2, r._3)) ==
      (0L until 4L).flatMap(i => Seq(
        (i, s"v$i", "update_preimage"),
        (i, s"v${i}u", "update_postimage"))).toSet,
      s"MOR update refinement wrong: $rows")
  }

  test("genesis catch-up under compute-updates stays insert-tagged (slices skip the refinement shuffle)") {
    freshWh("tCdcUpG")
    spark.sql("CREATE NAMESPACE tCdcUpG.st")
    spark.sql("CREATE TABLE tCdcUpG.st.t (id BIGINT, v STRING)")
    spark.range(0, 12, 1, 4).selectExpr("id", "concat('v', id) AS v")
      .writeTo("tCdcUpG.st.t").append() // 4 files of 3 rows
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String, Long)]()
    // cap 3 → the genesis unit drains as ~4 insert slices
    val q = updatesStream("tCdcUpG", seen, "max-rows-per-trigger" -> "3")
    try q.processAllAvailable()
    finally { q.stop(); graft.streaming.Hygiene.unload(q.runId) }
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.forall(_._3 == "insert"),
      s"genesis rows must stay inserts: ${seen.asScala.toList}")
    assert(seen.asScala.map(_._1).toSet == (0L until 12L).toSet, "rows lost")
    assert(seen.asScala.map(_._4).toSet.size >= 4, "genesis did not slice")
  }

  test("a from-zero batch never identifier-checks ordinal 1: duplicate ids across collapsed genesis commits stream as inserts, a tail UPDATE still refines") {
    // two commits insert the SAME identifier value (legal per commit;
    // a table-level duplicate), then expiry collapses them into the
    // synthetic genesis state — ONE insert-only ordinal carrying both
    // rows. The per-commit uniqueness check must not fire there (it
    // would brick batch 0 of every fresh compute-updates stream over
    // such a table, permanently — each restart recomputes the same
    // batch); the tail commit's real pair must still refine.
    freshWh("tCdcUpD")
    spark.sql("CREATE NAMESPACE tCdcUpD.st")
    spark.sql("CREATE TABLE tCdcUpD.st.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO tCdcUpD.st.t VALUES (7, 'a')")          // seq 1
    spark.sql("INSERT INTO tCdcUpD.st.t VALUES (7, 'b')")          // seq 2
    val ops = new graft.catalog.TableOps("/tmp/graft_test_tCdcUpD", "st/t")
    graft.catalog.Maintenance.expireSnapshots(ops, keepLast = 1)   // collapse 1+2
    spark.sql("UPDATE tCdcUpD.st.t SET v = 'c' WHERE v = 'a'")     // seq 3: real pair
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String, Long)]()
    val q = updatesStream("tCdcUpD", seen)
    try q.processAllAvailable()
    finally { q.stop(); graft.streaming.Hygiene.unload(q.runId) }
    import scala.jdk.CollectionConverters._
    val rows = seen.asScala.map(r => (r._1, r._2, r._3)).toSet
    assert(rows == Set(
      (7L, "a", "insert"), (7L, "b", "insert"),        // collapsed genesis, unrefined
      (7L, "a", "update_preimage"), (7L, "c", "update_postimage")), // the tail pair
      s"from-zero refinement wrong: $rows")
  }

  test("property fuzz: a capped compute-updates drain over random append/UPDATE histories equals the batch compute_updates ground truth") {
    // the refinement's batching-independence property: pairing is
    // local to (identifier, ordinal) and every admission shape
    // delivers a commit's pairs in ONE batch, so HOWEVER the rate
    // limit chunks the history — packed appends, budgeted MOR
    // updates, admit-and-closed COW updates, sliced over-cap appends
    // (insert-only, refinement no-op) — the drained (id, v, type)
    // multiset must equal one batch-side computeUpdates over the
    // whole range (ordinal 1 exempt on both sides: the stream's
    // from-zero rule and minOrdinal = 2 agree by construction)
    import scala.jdk.CollectionConverters._
    for (seed <- 1 to 2) {
      val rnd = new scala.util.Random(seed)
      val cat = s"tCdcUpF$seed"
      val wh = freshWh(cat)
      val mor = seed % 2 == 0
      spark.sql(s"CREATE NAMESPACE $cat.st")
      spark.sql(s"CREATE TABLE $cat.st.t (id BIGINT, v BIGINT)" +
        (if (mor) " TBLPROPERTIES ('write.update.mode'='merge-on-read')" else ""))
      var hi = 0L
      (1 to 6).foreach { i =>
        if (i == 1 || rnd.nextInt(10) < 5 || hi == 0) {
          val n = 4 + rnd.nextInt(27)
          spark.range(hi, hi + n, 1, ((n + 9) / 10).toInt)
            .selectExpr("id", "id * 3 AS v").writeTo(s"$cat.st.t").append()
          hi += n
        } else
          // i is in the SET expression so repeated updates of one id
          // produce distinct post-images (pairing stays per-commit)
          spark.sql(s"UPDATE $cat.st.t SET v = v + ${1000 * i} " +
            s"WHERE id % ${2 + rnd.nextInt(4)} = 0")
      }
      val ops = new graft.catalog.TableOps(wh, "st/t")
      val meta = ops.refresh().get._2
      val cur = meta.currentSnapshot.get.sequenceNumber
      val expected = graft.catalog.Changes.computeUpdates(
          graft.catalog.Changes.between(spark, ops, meta, 0L, cur).get,
          Seq("id"), minOrdinal = 2)
        .groupBy("id", "v", "_change_type").count().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)) -> r.getLong(3))
        .toMap
      assert(expected.keys.exists(_._3 == "update_preimage"),
        s"seed=$seed: degenerate history, no update pair to check")
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String, Long)]()
      val q = updatesStream(cat, seen,
        "max-rows-per-trigger" -> (10 + rnd.nextInt(11)).toString)
      try q.processAllAvailable()
      finally { q.stop(); graft.streaming.Hygiene.unload(q.runId) }
      val drained = seen.asScala.toSeq
        .groupBy(t => (t._1, t._2.toLong, t._3)).map { case (k, v) => k -> v.size.toLong }
      assert(drained == expected,
        s"seed=$seed mor=$mor: drained multiset != batch compute_updates — " +
          s"missing=${(expected.toSet -- drained.toSet).take(5)} " +
          s"extra=${(drained.toSet -- expected.toSet).take(5)}")
    }
  }

  test("option validation: identifier-columns required; split-row-level refused") {
    freshWh("tCdcUpV")
    spark.sql("CREATE NAMESPACE tCdcUpV.st")
    spark.sql("CREATE TABLE tCdcUpV.st.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO tCdcUpV.st.t VALUES (1, 'a')")
    val provider = new graft.streaming.GraftCdcSourceProvider
    val ctx = spark.sqlContext
    val base = Map("table" -> "tCdcUpV.st.t", "compute-updates" -> "true")
    val e1 = intercept[IllegalArgumentException] {
      provider.createSource(ctx, "/tmp/graft_upv_ckpt/sources/0", None, "graft-cdc", base)
    }
    assert(e1.getMessage.contains("identifier-columns"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      provider.createSource(ctx, "/tmp/graft_upv_ckpt/sources/0", None, "graft-cdc",
        base ++ Map("identifier-columns" -> "id",
          "split-row-level" -> "true", "max-rows-per-trigger" -> "10"))
    }
    assert(e2.getMessage.contains("cannot be combined with split-row-level"),
      e2.getMessage)
  }
}
