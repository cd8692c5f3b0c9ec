package graft

import graft.TestSpark.TableFiles
import graft.catalog.{CommitFailedException, Io, TableOps}
import graft.meta.TableMeta
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Catalog/commit-protocol behavior (SURVEY §5.2): DDL round-trips,
  * the warehouse RELOCATION test (the reference's raison d'être,
  * README.md:112), commit conflicts, version-hint crash recovery,
  * and id-based schema evolution.
  */
class CatalogSpec extends AnyFunSuite {

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

  test("namespace + table DDL round-trip, relative location invariant") {
    val wh = freshDir("ddl")
    mkCatalog("tc1", wh)
    spark.sql("CREATE NAMESPACE tc1.ns1")
    spark.sql("CREATE NAMESPACE tc1.ns1.sub")
    assert(spark.sql("SHOW NAMESPACES IN tc1").collect().map(_.getString(0)).contains("ns1"))
    spark.sql("CREATE TABLE tc1.ns1.t (id BIGINT, data STRING)")
    assert(spark.sql("SHOW TABLES IN tc1.ns1").collect().map(_.getString(1)).contains("t"))
    spark.sql("INSERT INTO tc1.ns1.t VALUES (1, 'Pizza'), (2, 'Pasta')")
    assert(spark.sql("SELECT * FROM tc1.ns1.t").count() == 2)

    // metadata must contain only warehouse-relative paths (README.md:27)
    val metaJson = Files.readString(
      Paths.get(wh, "ns1", "t", "metadata", "v2.metadata.json"))
    val meta = TableMeta.fromJson(metaJson)
    assert(meta.location == "ns1/t")
    val ops1 = new TableOps(wh, "ns1/t")
    val files1 = ops1.parseMeta(metaJson).snapshots.flatMap(ops1.allFiles)
    assert(files1.nonEmpty)
    files1.foreach(f => assert(f.path.startsWith("ns1/t/")))

    // custom locations are rejected (ref HadoopRelativeCatalog.java:387-395)
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE tc1.ns1.bad (id INT) LOCATION '/tmp/elsewhere'")
    }
    assert(e.getMessage.toLowerCase.contains("location"))

    // drop refuses non-empty namespace without cascade
    intercept[Exception] { spark.sql("DROP NAMESPACE tc1.ns1") }
    spark.sql("DROP NAMESPACE tc1.ns1 CASCADE")
    assert(!spark.sql("SHOW NAMESPACES IN tc1").collect().map(_.getString(0)).contains("ns1"))
  }

  test("warehouse relocation: mv the directory, re-read unchanged (README.md:112)") {
    val whA = freshDir("relocA")
    val whB = freshDir("relocB")
    mkCatalog("tcA", whA)
    spark.sql("CREATE NAMESPACE tcA.m")
    spark.sql("CREATE TABLE tcA.m.t (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO tcA.m.t SELECT id, id * 1.5 FROM range(1000)")
    val before = spark.sql("SELECT SUM(id) AS s, COUNT(*) AS n FROM tcA.m.t").collect()(0)

    Files.move(Paths.get(whA), Paths.get(whB))

    mkCatalog("tcB", whB)
    val after = spark.sql("SELECT SUM(id) AS s, COUNT(*) AS n FROM tcB.m.t").collect()(0)
    assert(before == after)
    // and the moved table stays writable
    spark.sql("INSERT INTO tcB.m.t VALUES (10000, 1.0)")
    assert(spark.sql("SELECT COUNT(*) FROM tcB.m.t").collect()(0).getLong(0) == 1001)
  }

  test("concurrent commit: one writer wins, loser gets CommitFailedException") {
    val wh = freshDir("occ")
    mkCatalog("tcC", wh)
    spark.sql("CREATE NAMESPACE tcC.c")
    spark.sql("CREATE TABLE tcC.c.t (id BIGINT)")
    val ops1 = new TableOps(wh, "c/t")
    val ops2 = new TableOps(wh, "c/t")
    val (v1, m1) = ops1.refresh().get
    val (v2, m2) = ops2.refresh().get
    assert(v1 == v2)
    ops1.commit(v1, m1.copy(lastUpdatedMs = 1L))
    intercept[CommitFailedException] {
      ops2.commit(v2, m2.copy(lastUpdatedMs = 2L))
    }
    // loser retries on refreshed base and succeeds
    val (v3, m3) = ops2.refresh().get
    assert(v3 == v1 + 1)
    ops2.commit(v3, m3.copy(lastUpdatedMs = 3L))
  }

  test("version-hint corruption recovers via directory scan (ref :302-337)") {
    val wh = freshDir("hint")
    mkCatalog("tcH", wh)
    spark.sql("CREATE NAMESPACE tcH.h")
    spark.sql("CREATE TABLE tcH.h.t (id BIGINT)")
    spark.sql("INSERT INTO tcH.h.t VALUES (1), (2)")
    val ops = new TableOps(wh, "h/t")
    assert(ops.findVersion() == 2)
    Files.writeString(Paths.get(ops.versionHintFile), "not-a-number")
    assert(ops.findVersion() == 2)
    Files.delete(Paths.get(ops.versionHintFile))
    assert(ops.findVersion() == 2)
    // hint pointing past the newest version is ignored too
    Files.writeString(Paths.get(ops.versionHintFile), "99")
    assert(ops.findVersion() == 2)
  }

  test("schema evolution: add/rename keep field ids, old files read as null") {
    val wh = freshDir("evo")
    mkCatalog("tcE", wh)
    spark.sql("CREATE NAMESPACE tcE.e")
    spark.sql("CREATE TABLE tcE.e.t (id BIGINT, a STRING)")
    spark.sql("INSERT INTO tcE.e.t VALUES (1, 'x')")
    spark.sql("ALTER TABLE tcE.e.t ADD COLUMN b DOUBLE")
    spark.sql("INSERT INTO tcE.e.t VALUES (2, 'y', 2.5)")
    val rows = spark.sql("SELECT id, a, b FROM tcE.e.t ORDER BY id").collect()
    assert(rows(0).isNullAt(2) && rows(1).getDouble(2) == 2.5)
    val meta = new TableOps(wh, "e/t").refresh().get._2
    assert(meta.schema.fields.map(f => f.name -> f.id).toMap ==
      Map("id" -> 1, "a" -> 2, "b" -> 3))
    spark.sql("ALTER TABLE tcE.e.t RENAME COLUMN a TO a2")
    val meta2 = new TableOps(wh, "e/t").refresh().get._2
    assert(meta2.schema.fields.find(_.name == "a2").get.id == 2)
    // data written before the rename must read back under the new name
    val renamed = spark.sql("SELECT id, a2 FROM tcE.e.t ORDER BY id").collect()
    assert(renamed.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "x"), (2L, "y")))
    // rename is metadata-only: the data files are untouched
    val opsE = new TableOps(wh, "e/t")
    val filesBefore = opsE.allFiles(opsE.refresh().get._2.currentSnapshot.get)
      .map(_.path).toSet
    assert(filesBefore.nonEmpty)
    assert(filesBefore == opsE.allFiles(meta.currentSnapshot.get).map(_.path).toSet,
      "RENAME COLUMN must not rewrite data files")
  }

  test("schema evolution: drop then re-add a column name does not resurrect old data") {
    val wh = freshDir("evo2")
    mkCatalog("tcE2", wh)
    spark.sql("CREATE NAMESPACE tcE2.e")
    spark.sql("CREATE TABLE tcE2.e.t (id BIGINT, x STRING)")
    spark.sql("INSERT INTO tcE2.e.t VALUES (1, 'old1'), (2, 'old2')")
    spark.sql("ALTER TABLE tcE2.e.t DROP COLUMN x")
    spark.sql("ALTER TABLE tcE2.e.t ADD COLUMN x STRING")
    // the re-added `x` is a NEW field id — pre-drop files must serve
    // NULL, not their stale values under the recycled name
    val afterReadd = spark.sql("SELECT id, x FROM tcE2.e.t ORDER BY id").collect()
    assert(afterReadd.forall(_.isNullAt(1)),
      s"stale column resurrected: ${afterReadd.mkString(",")}")
    spark.sql("INSERT INTO tcE2.e.t VALUES (3, 'new3')")
    val rows = spark.sql("SELECT id, x FROM tcE2.e.t ORDER BY id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSeq
    assert(rows == Seq((1L, null), (2L, null), (3L, "new3")))
    // filtering on the recycled column sees only the new field's values
    assert(spark.sql("SELECT COUNT(*) FROM tcE2.e.t WHERE x = 'old1'")
      .collect()(0).getLong(0) == 0L)
  }

  test("schema evolution: type widening is metadata-only; unsafe changes refuse") {
    val wh = freshDir("evo3")
    mkCatalog("tcE3", wh)
    spark.sql("CREATE NAMESPACE tcE3.e")
    spark.sql("CREATE TABLE tcE3.e.t (id INT, v FLOAT)")
    spark.sql("INSERT INTO tcE3.e.t VALUES (1, CAST(1.5 AS FLOAT)), (2147483647, CAST(2.5 AS FLOAT))")
    val opsE3 = new TableOps(wh, "e/t")
    val filesBefore = opsE3.allFiles(opsE3.refresh().get._2.currentSnapshot.get)
      .map(_.path).toSet
    assert(filesBefore.nonEmpty)
    spark.sql("ALTER TABLE tcE3.e.t ALTER COLUMN id TYPE BIGINT")
    spark.sql("ALTER TABLE tcE3.e.t ALTER COLUMN v TYPE DOUBLE")
    // old (narrow) files read under the widened schema, no rewrite
    val metaAfter = new TableOps(wh, "e/t").refresh().get._2
    assert(opsE3.allFiles(metaAfter.currentSnapshot.get).map(_.path).toSet == filesBefore,
      "type widening must not rewrite data files")
    assert(metaAfter.schema.fields.map(f => f.name -> f.id).toMap ==
      Map("id" -> 1, "v" -> 2), "widening must keep field ids")
    spark.sql("INSERT INTO tcE3.e.t VALUES (9999999999, 3.5)")
    val rows = spark.sql("SELECT id, v FROM tcE3.e.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows == Seq((1L, 1.5), (2147483647L, 2.5), (9999999999L, 3.5)))
    // filters on the widened column still prune/evaluate correctly
    assert(spark.sql("SELECT COUNT(*) FROM tcE3.e.t WHERE id > 2000000000")
      .collect()(0).getLong(0) == 2L)
    // unsafe narrowing / incompatible changes refuse
    intercept[Exception] {
      spark.sql("ALTER TABLE tcE3.e.t ALTER COLUMN id TYPE INT")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE tcE3.e.t ALTER COLUMN v TYPE STRING")
    }
  }

  test("copy-on-write MERGE carries over files the ON-condition cannot touch") {
    val wh = freshDir("mrg")
    mkCatalog("tcMg", wh)
    spark.sql("CREATE NAMESPACE tcMg.m")
    spark.sql("CREATE TABLE tcMg.m.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO tcMg.m.t SELECT id, 'low' FROM range(0, 100)")
    spark.sql("INSERT INTO tcMg.m.t SELECT id, 'high' FROM range(1000, 1100)")
    import org.apache.spark.sql.connector.catalog.Identifier
    val cat = spark.sessionState.catalogManager.catalog("tcMg")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    def files = cat.loadTable(Identifier.of(Array("m"), "t"))
      .asInstanceOf[graft.catalog.GraftTable].currentFiles.map(_.path).toSet
    val before = files
    assert(before.nonEmpty)
    spark.sql(
      """MERGE INTO tcMg.m.t t
        |USING (SELECT id FROM range(1000, 1010)) s
        |ON t.id = s.id AND t.id >= 1000
        |WHEN MATCHED THEN UPDATE SET v = 'merged'""".stripMargin)
    assert(spark.sql("SELECT COUNT(*) FROM tcMg.m.t WHERE v = 'merged'").collect()(0).getLong(0) == 10)
    assert(spark.sql("SELECT COUNT(*) FROM tcMg.m.t").collect()(0).getLong(0) == 200)
    // low-range files must survive byte-identical
    assert(files.intersect(before).nonEmpty, "merge rewrote files it could not touch")
  }

  test("MERGE runtime group filtering: partitions the source never touches carry over byte-identical") {
    val wh = freshDir("rtgf")
    mkCatalog("tcRt", wh)
    spark.sql("CREATE NAMESPACE tcRt.r")
    spark.sql("CREATE TABLE tcRt.r.t (region STRING, id BIGINT, v STRING) PARTITIONED BY (region)")
    // AQE would coalesce the tiny clustered write into one file; the
    // test needs one file per region to observe per-partition carryover
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      spark.sql(
        """INSERT INTO tcRt.r.t
          |SELECT CASE WHEN id < 100 THEN 'a' WHEN id < 200 THEN 'b' ELSE 'c' END, id, 'orig'
          |FROM range(300)""".stripMargin)
    import org.apache.spark.sql.connector.catalog.Identifier
    val cat = spark.sessionState.catalogManager.catalog("tcRt")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    def files = cat.loadTable(Identifier.of(Array("r"), "t"))
      .asInstanceOf[graft.catalog.GraftTable].currentFiles
    val before = files
    assert(before.size >= 3, "expected at least one file per region partition")
    assert(before.forall(f => f.nullCount.get("region").contains(0L) &&
      f.minBound.get("region") == f.maxBound.get("region")),
      "write-side clustering must produce value-uniform files with known null counts")

    // every source id lives in region 'b', but the ON condition carries
    // no literal the STATIC file pruning could use — only the runtime
    // group filter (fed by the evaluated source) can prove a/c untouched
    spark.sql(
      """MERGE INTO tcRt.r.t t
        |USING (SELECT id FROM range(150, 160)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = 'merged'""".stripMargin)
    assert(spark.sql("SELECT COUNT(*) FROM tcRt.r.t").collect()(0).getLong(0) == 300)
    assert(spark.sql("SELECT COUNT(*) FROM tcRt.r.t WHERE v = 'merged'").collect()(0).getLong(0) == 10)
    val after = files.map(_.path).toSet
    val untouchedBefore = before.filter(f =>
      f.minBound.get("region").exists(r => r == "a" || r == "c")).map(_.path)
    assert(untouchedBefore.nonEmpty)
    untouchedBefore.foreach(p => assert(after.contains(p),
      s"runtime group filtering failed: untouched partition file $p was rewritten"))
    val bBefore = before.filter(_.minBound.get("region").contains("b")).map(_.path)
    bBefore.foreach(p => assert(!after.contains(p), "region b should have been rewritten"))

    // null partition values disable the uniformity guard → the merge
    // must FALL BACK to the statically-pruned scan and stay correct
    spark.sql("INSERT INTO tcRt.r.t VALUES (CAST(NULL AS STRING), 9000, 'nullrow')")
    spark.sql(
      """MERGE INTO tcRt.r.t t
        |USING (SELECT id FROM range(50, 55)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = 'merged2'""".stripMargin)
    assert(spark.sql("SELECT COUNT(*) FROM tcRt.r.t").collect()(0).getLong(0) == 301)
    assert(spark.sql("SELECT COUNT(*) FROM tcRt.r.t WHERE v = 'merged2'").collect()(0).getLong(0) == 5)
    assert(spark.sql("SELECT COUNT(*) FROM tcRt.r.t WHERE region IS NULL").collect()(0).getLong(0) == 1)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("file-keyed runtime group filtering: unpartitioned MERGE rewrites only matched files") {
    val wh = freshDir("fgrp")
    mkCatalog("tcFg", wh)
    spark.sql("CREATE NAMESPACE tcFg.g")
    spark.sql("CREATE TABLE tcFg.g.t (id BIGINT, v STRING)")
    // four disjoint id-range files in separate commits — NO partition
    // columns, so only _file-keyed runtime filtering can prune
    spark.sql("INSERT INTO tcFg.g.t SELECT id, 'a' FROM range(0, 100)")
    spark.sql("INSERT INTO tcFg.g.t SELECT id, 'b' FROM range(1000, 1100)")
    spark.sql("INSERT INTO tcFg.g.t SELECT id, 'c' FROM range(2000, 2100)")
    spark.sql("INSERT INTO tcFg.g.t SELECT id, 'd' FROM range(3000, 3100)")
    import org.apache.spark.sql.connector.catalog.Identifier
    val cata = spark.sessionState.catalogManager.catalog("tcFg")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    def files = cata.loadTable(Identifier.of(Array("g"), "t"))
      .asInstanceOf[graft.catalog.GraftTable].currentFiles
    val before = files.map(_.path).toSet
    assert(before.size >= 3)

    // the ON condition references only the source: static pruning is
    // powerless; the matched rows all live in the middle file
    spark.sql(
      """MERGE INTO tcFg.g.t t
        |USING (SELECT id FROM range(1040, 1050)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = 'merged'""".stripMargin)
    assert(spark.sql("SELECT COUNT(*) FROM tcFg.g.t").collect()(0).getLong(0) == 400)
    assert(spark.sql("SELECT COUNT(*) FROM tcFg.g.t WHERE v = 'merged'").collect()(0).getLong(0) == 10)
    assert(spark.sql("SELECT COUNT(*) FROM tcFg.g.t WHERE v = 'a'").collect()(0).getLong(0) == 100)
    assert(spark.sql("SELECT COUNT(*) FROM tcFg.g.t WHERE v = 'c'").collect()(0).getLong(0) == 100)
    val after = files.map(_.path).toSet
    val untouchedCarried = before.intersect(after)
    assert(untouchedCarried.size >= 3,
      s"file-keyed runtime filtering failed: only ${untouchedCarried.size} of ${before.size} carried over")
  }

  test("copy-on-write DELETE rewrites only files the predicate can touch") {
    val wh = freshDir("del")
    mkCatalog("tcD", wh)
    spark.sql("CREATE NAMESPACE tcD.d")
    spark.sql("CREATE TABLE tcD.d.t (id BIGINT, v STRING)")
    // two disjoint id ranges in two separate snapshots → distinct files
    spark.sql("INSERT INTO tcD.d.t SELECT id, 'low' FROM range(0, 100)")
    spark.sql("INSERT INTO tcD.d.t SELECT id, 'high' FROM range(1000, 1100)")
    val cat = spark.sessionState.catalogManager.catalog("tcD")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    import org.apache.spark.sql.connector.catalog.Identifier
    def files = cat.loadTable(Identifier.of(Array("d"), "t"))
      .asInstanceOf[graft.catalog.GraftTable].currentFiles
    val before = files.map(_.path).toSet
    assert(before.nonEmpty)
    spark.sql("DELETE FROM tcD.d.t WHERE id >= 1000 AND id < 1050")
    val after = files
    // the low-range files must be carried over byte-identical
    val lowBefore = before.filter(_.nonEmpty)
    assert(after.map(_.path).toSet.intersect(lowBefore).nonEmpty,
      "delete rewrote files it could not touch")
    assert(spark.sql("SELECT COUNT(*) FROM tcD.d.t").collect()(0).getLong(0) == 150)
    assert(spark.sql("SELECT COUNT(*) FROM tcD.d.t WHERE v = 'low'").collect()(0).getLong(0) == 100)
  }

  test("DELETE keeps rows where the predicate column is NULL") {
    val wh = freshDir("delnull")
    mkCatalog("tcDN", wh)
    spark.sql("CREATE NAMESPACE tcDN.d")
    spark.sql("CREATE TABLE tcDN.d.t (id BIGINT, c BIGINT)")
    spark.sql("INSERT INTO tcDN.d.t VALUES (1, 5), (2, NULL), (3, 7), (4, 5)")
    spark.sql("DELETE FROM tcDN.d.t WHERE c = 5")
    val remaining = spark.sql("SELECT id FROM tcDN.d.t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(remaining == Seq(2L, 3L), "rows with NULL predicate must survive a DELETE")
  }

  test("DELETE racing a concurrent append keeps the appended rows; racing a rewrite fails") {
    val wh = freshDir("race")
    mkCatalog("tcRc", wh)
    spark.sql("CREATE NAMESPACE tcRc.r")
    spark.sql("CREATE TABLE tcRc.r.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO tcRc.r.t SELECT id, 'orig' FROM range(0, 100)")
    val cat = spark.sessionState.catalogManager.catalog("tcRc")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    import org.apache.spark.sql.connector.catalog.Identifier
    def load() = cat.loadTable(Identifier.of(Array("r"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]

    // the delete's table handle is FROZEN at the pre-append snapshot …
    val frozen = load()
    // … then an append lands before the delete commits
    spark.sql("INSERT INTO tcRc.r.t SELECT id, 'late' FROM range(1000, 1010)")
    frozen.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.LessThan("id", 50L)))
    // snapshot isolation: delete applied AND the racing append survives
    assert(spark.sql("SELECT COUNT(*) FROM tcRc.r.t").collect()(0).getLong(0) == 60)
    assert(spark.sql("SELECT COUNT(*) FROM tcRc.r.t WHERE v = 'late'")
      .collect()(0).getLong(0) == 10)

    // a racing operation that REWRITES files this delete read must conflict
    val frozen2 = load()
    spark.sql("DELETE FROM tcRc.r.t WHERE id >= 50 AND id < 60")
    intercept[graft.catalog.CommitConflictException] {
      frozen2.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.EqualTo("v", "orig")))
    }
  }

  test("rename table moves the directory and rewrites stored locations") {
    val wh = freshDir("ren")
    mkCatalog("tcR", wh)
    spark.sql("CREATE NAMESPACE tcR.r")
    spark.sql("CREATE TABLE tcR.r.old (id BIGINT)")
    spark.sql("INSERT INTO tcR.r.old VALUES (7)")
    spark.sql("ALTER TABLE tcR.r.old RENAME TO tcR.r.renamed")
    assert(spark.sql("SELECT id FROM tcR.r.renamed").collect()(0).getLong(0) == 7)
    val meta = new TableOps(wh, "r/renamed").refresh().get._2
    assert(meta.location == "r/renamed")
    val opsR = new TableOps(wh, "r/renamed")
    val renamedFiles = meta.snapshots.flatMap(opsR.allFiles)
    assert(renamedFiles.nonEmpty)
    renamedFiles.foreach(f => assert(f.path.startsWith("r/renamed/")))
    assert(!Files.exists(Paths.get(wh, "r", "old")))
  }

  test("merge-on-read DELETE: data files byte-identical, deletes stack, compact settles") {
    val wh = freshDir("morspec")
    mkCatalog("tcMor", wh)
    spark.sql("CREATE NAMESPACE tcMor.m")
    spark.sql("CREATE TABLE tcMor.m.t (id BIGINT, grp STRING) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql("INSERT INTO tcMor.m.t SELECT id, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(100)")
    spark.sql("INSERT INTO tcMor.m.t SELECT id, 'c' FROM range(100, 150)")

    def tbl = {
      val cata = spark.sessionState.catalogManager.catalog("tcMor")
        .asInstanceOf[graft.catalog.RelativeCatalog]
      cata.invalidateTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("m"), "t"))
      cata.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("m"), "t"))
        .asInstanceOf[graft.catalog.GraftTable]
    }
    def sha(p: String): String = {
      val d = java.security.MessageDigest.getInstance("SHA-256")
      java.util.Base64.getEncoder.encodeToString(
        d.digest(Files.readAllBytes(Paths.get(wh, p))))
    }
    val before = tbl.currentFiles.map(f => f.path -> sha(f.path)).toMap
    assert(before.nonEmpty)

    // trickle DELETE #1: no data file may be rewritten or even touched
    spark.sql("DELETE FROM tcMor.m.t WHERE id < 10")
    val snap1 = tbl.readSnapshot.get
    assert(snap1.operation == "delete")
    assert(tbl.ops.allFiles(snap1).map(f => f.path -> sha(f.path)).toMap == before,
      "MOR delete must leave every data file byte-identical")
    assert(snap1.deleteFiles.nonEmpty)
    assert(snap1.summary("total-position-deletes").toLong == 10)
    assert(spark.sql("SELECT COUNT(*) FROM tcMor.m.t").collect()(0).getLong(0) == 140)

    // trickle DELETE #2 stacks on top (still no rewrite), and filters
    // through the MOR scan still see the right rows
    spark.sql("DELETE FROM tcMor.m.t WHERE id >= 145")
    val snap2 = tbl.readSnapshot.get
    assert(tbl.ops.allFiles(snap2).map(f => f.path -> sha(f.path)).toMap == before)
    assert(snap2.deleteFiles.size > snap1.deleteFiles.size)
    assert(spark.sql("SELECT COUNT(*) FROM tcMor.m.t WHERE grp = 'a'").collect()(0).getLong(0) == 45)
    assert(spark.sql("SELECT COUNT(*) FROM tcMor.m.t").collect()(0).getLong(0) == 135)

    // deleting already-deleted rows is a no-op commit (idempotent)
    val v = tbl.metaVersion
    spark.sql("DELETE FROM tcMor.m.t WHERE id < 5")
    assert(tbl.metaVersion == v, "re-delete of deleted rows must not commit")

    // COW UPDATE over a MOR table must not resurrect deleted rows
    spark.sql("UPDATE tcMor.m.t SET grp = 'z' WHERE id = 20")
    assert(spark.sql("SELECT COUNT(*) FROM tcMor.m.t").collect()(0).getLong(0) == 135)
    assert(spark.sql("SELECT grp FROM tcMor.m.t WHERE id = 20").collect()(0).getString(0) == "z")
    assert(spark.sql("SELECT COUNT(*) FROM tcMor.m.t WHERE id < 10").collect()(0).getLong(0) == 0)

    // time travel: pre-delete snapshot sees all 150 rows; the snapshot
    // between the two deletes applies only the first delete's files
    assert(spark.sql("SELECT COUNT(*) FROM tcMor.m.t VERSION AS OF 2").collect()(0).getLong(0) == 150)
    assert(spark.sql("SELECT COUNT(*) FROM tcMor.m.t VERSION AS OF 3").collect()(0).getLong(0) == 140)

    // compaction applies the deletes for real and clears them
    graft.catalog.Maintenance.compact(spark, tbl, targetFiles = 1)
    val snap3 = tbl.readSnapshot.get
    assert(snap3.deleteFiles.isEmpty, "compact must settle position deletes")
    assert(spark.sql("SELECT COUNT(*) FROM tcMor.m.t").collect()(0).getLong(0) == 135)
    assert(spark.sql("SELECT COUNT(*) FROM tcMor.m.t WHERE id < 10").collect()(0).getLong(0) == 0)

    // pre-MOR metadata (no deleteFiles field) still parses
    val legacy = """{"snapshotId":1,"parentId":null,"sequenceNumber":1,
      "timestampMs":0,"operation":"append","summary":{},"files":[]}"""
    import org.json4s.jackson.JsonMethods
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    assert(JsonMethods.parse(legacy).extract[graft.meta.Snapshot].deleteFiles.isEmpty)
  }

  test("equality DELETE: scan-free commit, seq-scoped re-insert, fallback, compact settles") {
    val wh = freshDir("eqspec")
    mkCatalog("tcEq", wh)
    spark.sql("CREATE NAMESPACE tcEq.m")
    spark.sql("CREATE TABLE tcEq.m.t (id BIGINT, grp STRING) TBLPROPERTIES " +
      "('write.delete.mode'='merge-on-read', 'write.delete.granularity'='equality')")
    spark.sql("INSERT INTO tcEq.m.t SELECT id, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END FROM range(100)")

    def tbl = {
      val cata = spark.sessionState.catalogManager.catalog("tcEq")
        .asInstanceOf[graft.catalog.RelativeCatalog]
      cata.invalidateTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("m"), "t"))
      cata.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("m"), "t"))
        .asInstanceOf[graft.catalog.GraftTable]
    }
    def sha(p: String): String = {
      val d = java.security.MessageDigest.getInstance("SHA-256")
      java.util.Base64.getEncoder.encodeToString(
        d.digest(Files.readAllBytes(Paths.get(wh, p))))
    }
    val before = tbl.currentFiles.map(f => f.path -> sha(f.path)).toMap
    assert(before.nonEmpty)

    // key-tuple DELETE: no data file rewritten; the delete file is
    // equality content keyed by the id column's field id
    spark.sql("DELETE FROM tcEq.m.t WHERE id IN (1, 2, 3)")
    val snap1 = tbl.readSnapshot.get
    assert(tbl.ops.allFiles(snap1).map(f => f.path -> sha(f.path)).toMap == before,
      "equality delete must leave every data file byte-identical")
    val eqd = snap1.deleteFiles.filter(graft.catalog.Mor.isEquality)
    assert(eqd.nonEmpty && eqd.forall(_.equalityIds.contains(List(1))))
    assert(snap1.summary("total-equality-deletes").toLong == 3)
    assert(spark.sql("SELECT COUNT(*) FROM tcEq.m.t").collect()(0).getLong(0) == 97)

    // composite key tuple (grp AND id)
    spark.sql("DELETE FROM tcEq.m.t WHERE grp = 'b' AND id = 11")
    assert(spark.sql("SELECT COUNT(*) FROM tcEq.m.t").collect()(0).getLong(0) == 96)

    // a key re-inserted AFTER the delete survives: the delete's
    // sequence number only covers strictly-older data files
    spark.sql("INSERT INTO tcEq.m.t VALUES (2, 'a')")
    assert(spark.sql("SELECT COUNT(*) FROM tcEq.m.t WHERE id = 2").collect()(0).getLong(0) == 1)
    assert(spark.sql("SELECT COUNT(*) FROM tcEq.m.t").collect()(0).getLong(0) == 97)

    // the changelog resolves equality-delete commits via the fast path
    // (survivor anti-join, no two-sided state diff): seq2 deleted ids
    // 1,2,3; seq3 deleted (b,11); seq4 re-inserted id 2
    val ch = spark.read.option("start-snapshot-id", "1").table("tcEq.m.`t$changes`")
    assert(ch.filter("_change_type = 'delete' AND _change_ordinal = 1").count() == 3)
    assert(ch.filter("_change_type = 'delete' AND _change_ordinal = 2 AND id = 11").count() == 1)
    assert(ch.filter("_change_type = 'insert' AND _change_ordinal = 3 AND id = 2").count() == 1)

    // a non-tuple predicate (range) falls back to position deletes
    spark.sql("DELETE FROM tcEq.m.t WHERE id >= 98")
    val snap2 = tbl.readSnapshot.get
    assert(snap2.deleteFiles.exists(d => !graft.catalog.Mor.isEquality(d)),
      "range predicate must fall back to position deletes")
    assert(spark.sql("SELECT COUNT(*) FROM tcEq.m.t").collect()(0).getLong(0) == 95)

    // compaction applies both delete kinds for real and clears them
    graft.catalog.Maintenance.compact(spark, tbl, targetFiles = 1)
    val snap3 = tbl.readSnapshot.get
    assert(snap3.deleteFiles.isEmpty, "compact must settle equality deletes")
    assert(spark.sql("SELECT COUNT(*) FROM tcEq.m.t").collect()(0).getLong(0) == 95)
    assert(spark.sql("SELECT COUNT(*) FROM tcEq.m.t WHERE id IN (1, 3, 11, 98, 99)")
      .collect()(0).getLong(0) == 0)
    assert(spark.sql("SELECT COUNT(*) FROM tcEq.m.t WHERE id = 2").collect()(0).getLong(0) == 1)
  }

  test("gzip metadata codec: writes honor the table property, reads probe spellings") {
    val wh = freshDir("gzmeta")
    mkCatalog("tcGz", wh)
    spark.sql("CREATE NAMESPACE tcGz.g")
    spark.sql("CREATE TABLE tcGz.g.t (id BIGINT, data STRING) " +
      "TBLPROPERTIES ('write.metadata.compression-codec'='gzip')")
    spark.sql("INSERT INTO tcGz.g.t VALUES (1, 'x'), (2, 'y')")
    spark.sql("INSERT INTO tcGz.g.t VALUES (3, 'z')")
    import scala.jdk.CollectionConverters._
    val mdDir = java.nio.file.Paths.get(wh, "g", "t", "metadata")
    val names = java.nio.file.Files.list(mdDir).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(names.exists(_.matches("""v\d+\.gz\.metadata\.json""")),
      s"expected gz metadata files, got $names")
    // committed chain reads back transparently (hint + probe)
    assert(spark.sql("SELECT SUM(id) FROM tcGz.g.t").collect()(0).getLong(0) == 6)
    assert(spark.sql("SELECT COUNT(*) FROM tcGz.g.t VERSION AS OF 1").collect()(0).getLong(0) == 2)
    // hint corruption recovers via the scan, which must see gz names
    java.nio.file.Files.writeString(mdDir.resolve("version-hint.text"), "boom")
    val cata = spark.sessionState.catalogManager.catalog("tcGz")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    val id = org.apache.spark.sql.connector.catalog.Identifier.of(Array("g"), "t")
    cata.invalidateTable(id)
    assert(spark.sql("SELECT COUNT(*) FROM tcGz.g.t").collect()(0).getLong(0) == 3)
    // a warehouse written by the reference stack may use the alternate
    // plain-suffix spelling v<N>.metadata.json.gz — recompress the
    // newest version that way and make sure the probe still opens it
    val ops = new graft.catalog.TableOps(wh, "g/t")
    val (v, _) = ops.refresh().get
    val cur = ops.existingMetadataFile(v).get
    val json = ops.readMetadataString(cur)
    val alt = mdDir.resolve(s"v$v.metadata.json.gz")
    val out = new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(alt))
    try out.write(json.getBytes("UTF-8")) finally out.close()
    java.nio.file.Files.delete(Paths.get(cur))
    java.nio.file.Files.writeString(mdDir.resolve("version-hint.text"), v.toString)
    val ops2 = new graft.catalog.TableOps(wh, "g/t")
    assert(ops2.refresh().get._1 == v)
    cata.invalidateTable(id)
    assert(spark.sql("SELECT SUM(id) FROM tcGz.g.t").collect()(0).getLong(0) == 6)
  }

  test("manifest chunking: commit payload stays O(chunk) as files accumulate") {
    val wh = freshDir("manifest")
    mkCatalog("tcMf", wh)
    spark.sql("CREATE NAMESPACE tcMf.m")
    spark.sql("CREATE TABLE tcMf.m.t (id BIGINT) " +
      "TBLPROPERTIES ('write.metadata.manifest-chunk-size'='10')")
    // 25 partitions -> 25 data files in one commit: 2 full chunks of
    // 10 and one under-full chunk of 5; no file entry stays inline
    spark.sql("INSERT INTO tcMf.m.t SELECT id FROM range(0, 100, 1, 25)")
    val ops = new TableOps(wh, "m/t")
    def rawSnapshots = {
      val (v, _) = ops.refresh().get
      TableMeta.fromJson(ops.readMetadataString(ops.existingMetadataFile(v).get)).snapshots
    }
    def snapshots = ops.refresh().get._2.snapshots
    val s1 = snapshots.last
    assert(s1.manifests.map(_.count) == List(10, 10, 5), s"got ${s1.manifests}")
    assert(rawSnapshots.last.files.isEmpty,
      s"no inline file entry expected, got ${rawSnapshots.last.files.size}")
    // lazy materialization still yields all 25 files and all rows
    assert(ops.allFiles(ops.refresh().get._2.currentSnapshot.get).size == 25)
    assert(spark.sql("SELECT COUNT(*) FROM tcMf.m.t").collect()(0).getLong(0) == 100)

    // appends REUSE the parent's full chunks: another 25-file insert
    // writes 2 full chunks plus 5 files that merge with the parent's
    // under-full 5 into a fifth full chunk
    spark.sql("INSERT INTO tcMf.m.t SELECT id FROM range(100, 200, 1, 25)")
    val s2 = snapshots.last
    assert(s2.manifests.map(_.count) == List.fill(5)(10), s"expected 5 full chunks, got ${s2.manifests}")
    assert(s2.manifests.take(2) == s1.manifests.take(2),
      "append must reuse the parent snapshot's chunks verbatim")
    assert(rawSnapshots.forall(_.files.isEmpty))
    assert(spark.sql("SELECT COUNT(*) FROM tcMf.m.t").collect()(0).getLong(0) == 200)

    // a predicate-pruned DELETE dissolves ONLY the chunks it touches
    spark.sql("DELETE FROM tcMf.m.t WHERE id < 4")
    val s3 = snapshots.last
    assert(s3.manifests.count(s2.manifests.contains) == 4,
      "exactly the touched chunk dissolves; the others are reused verbatim")
    // only the dissolved chunk's survivors are written anew
    assert(s3.manifests.filterNot(s2.manifests.contains).map(_.count).sum < 10)
    assert(rawSnapshots.forall(_.files.isEmpty))
    assert(spark.sql("SELECT COUNT(*) FROM tcMf.m.t").collect()(0).getLong(0) == 196)
    assert(spark.sql("SELECT SUM(id) FROM tcMf.m.t").collect()(0).getLong(0) == (0L until 200L).sum - 6)

    // time travel still materializes historic chunked snapshots
    val sid1 = rawSnapshots.head.snapshotId
    assert(spark.sql(s"SELECT COUNT(*) FROM tcMf.m.t VERSION AS OF $sid1").collect()(0).getLong(0) == 100)

    // expiry deletes chunk files no surviving snapshot references
    import scala.jdk.CollectionConverters._
    def manifestFilesOnDisk = java.nio.file.Files.list(
        java.nio.file.Paths.get(wh, "m", "t", "metadata")).iterator().asScala
      .count(_.getFileName.toString.startsWith("manifest-"))
    val before = manifestFilesOnDisk
    graft.catalog.Maintenance.expireSnapshots(ops, keepLast = 1)
    assert(manifestFilesOnDisk < before, "expire must GC orphaned chunk files")
    assert(spark.sql("SELECT COUNT(*) FROM tcMf.m.t").collect()(0).getLong(0) == 196)

    // rename remaps chunk contents; the moved table still reads
    spark.sql("ALTER TABLE tcMf.m.t RENAME TO tcMf.m.t2")
    assert(spark.sql("SELECT COUNT(*) FROM tcMf.m.t2").collect()(0).getLong(0) == 196)
    val ops2 = new TableOps(wh, "m/t2")
    assert(ops2.allFiles(ops2.refresh().get._2.currentSnapshot.get)
      .forall(_.path.startsWith("m/t2/")))
  }

  test("pre-chunk metadata with inline files and deletes reads, time-travels, and moves to chunks on the next commit") {
    val wh = freshDir("legacyinline")
    mkCatalog("tcLi", wh)
    spark.sql("CREATE NAMESPACE tcLi.l")
    spark.sql("CREATE TABLE tcLi.l.t (id BIGINT) TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql("INSERT INTO tcLi.l.t SELECT id FROM range(0, 50, 1, 4)")
    spark.sql("INSERT INTO tcLi.l.t SELECT id FROM range(50, 100, 1, 4)")
    spark.sql("DELETE FROM tcLi.l.t WHERE id % 10 = 3")
    val ops = new TableOps(wh, "l/t")
    val (v, meta) = ops.refresh().get
    val Seq(first, second, deleted) = meta.snapshots.map(_.snapshotId)
    // hand-write the pre-chunk layout over the current metadata file:
    // every snapshot's data and delete entries inline, no chunk stamp,
    // no list — then remove every chunk file, so reads can only come
    // from the inline entries
    val mdFile = ops.existingMetadataFile(v).get
    Io.writeString(mdFile, TableMeta.toJson(meta.copy(snapshots = meta.snapshots.map(s =>
      s.copy(files = ops.allFiles(s), manifests = Nil, manifestList = None,
        deleteManifests = Nil)))))
    new java.io.File(s"$wh/l/t/metadata").listFiles()
      .filter(_.getName.startsWith("manifest-")).foreach(f => assert(f.delete()))
    graft.catalog.ChunkCache.invalidateAll()
    graft.catalog.ManifestListCache.invalidateAll()
    val raw0 = TableMeta.fromJson(ops.readMetadataString(mdFile))
    assert(raw0.snapshots.forall(_.files.nonEmpty) &&
      raw0.snapshots.last.deleteFiles.nonEmpty && raw0.snapshots.forall(_.manifests.isEmpty))
    spark.sessionState.catalogManager.catalog("tcLi")
      .asInstanceOf[graft.catalog.RelativeCatalog]
      .invalidateTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("l"), "t"))

    def ids(q: String): Seq[Long] = spark.sql(q).collect().map(_.getLong(0)).toSeq.sorted
    val live = (0L until 100L).filterNot(_ % 10 == 3)
    def check(head: Seq[Long]): Unit = {
      assert(ids("SELECT id FROM tcLi.l.t") == head)
      assert(ids(s"SELECT id FROM tcLi.l.t VERSION AS OF $deleted") == live)
      assert(ids(s"SELECT id FROM tcLi.l.t VERSION AS OF $second") == (0L until 100L))
      assert(ids(s"SELECT id FROM tcLi.l.t VERSION AS OF $first") == (0L until 50L))
    }
    check(live)
    // the first commit after the upgrade moves every retained
    // snapshot's inline entries into chunks
    spark.sql("INSERT INTO tcLi.l.t VALUES (1000)")
    check(live :+ 1000L)
    val raw = TableMeta.fromJson(ops.readMetadataString(
      ops.existingMetadataFile(ops.findVersion()).get))
    assert(raw.snapshots.size == 4)
    assert(raw.snapshots.forall(s => s.files.isEmpty && s.deleteFiles.isEmpty),
      s"inline entries left: ${raw.snapshots.map(s => s.files.size + s.deleteFiles.size)}")
    assert(raw.snapshots.forall(_.manifests.nonEmpty) &&
      raw.snapshots.drop(2).forall(_.deleteManifests.nonEmpty))
    graft.catalog.ChunkCache.invalidateAll()
    check(live :+ 1000L)
  }

  test("function catalog serves bucket/days; MERGE on a days table keeps files day-local") {
    val wh = freshDir("fncat")
    mkCatalog("tcF", wh)
    spark.sql("CREATE NAMESPACE tcF.f")
    // the SQL surface must agree with the write path's transform
    // (specTransformExprs: pmod(hash(col), n))
    val viaFn = spark.sql("SELECT tcF.bucket(16, CAST(42 AS BIGINT)) AS b").collect()(0).getInt(0)
    val viaExpr = spark.sql("SELECT pmod(hash(CAST(42 AS BIGINT)), 16) AS b").collect()(0).getInt(0)
    assert(viaFn == viaExpr)
    assert(spark.sql("SELECT tcF.days(TIMESTAMP'2024-01-03 10:11:12') AS d")
      .collect()(0).getLong(0) == java.time.LocalDate.of(2024, 1, 3).toEpochDay)

    spark.sql("CREATE TABLE tcF.f.t (ts TIMESTAMP, id BIGINT, v STRING) PARTITIONED BY (days(ts))")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      spark.sql(
        """INSERT INTO tcF.f.t
          |SELECT timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,CAST(id DIV 100 AS INT),0,CAST(id % 24 AS INT),0),
          |       id, 'orig'
          |FROM range(300)""".stripMargin)
      // source ids all live in day 2024-01-02; the rewrite must come
      // back clustered+fanned out by days(ts), i.e. every file's ts
      // bounds stay within ONE epoch day
      spark.sql(
        """MERGE INTO tcF.f.t t
          |USING (SELECT id FROM range(150, 160)) s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET v = 'merged'""".stripMargin)
      assert(spark.sql("SELECT COUNT(*) FROM tcF.f.t").collect()(0).getLong(0) == 300)
      assert(spark.sql("SELECT COUNT(*) FROM tcF.f.t WHERE v = 'merged'").collect()(0).getLong(0) == 10)
      import org.apache.spark.sql.connector.catalog.Identifier
      val cata = spark.sessionState.catalogManager.catalog("tcF")
        .asInstanceOf[graft.catalog.RelativeCatalog]
      val files = cata.loadTable(Identifier.of(Array("f"), "t"))
        .asInstanceOf[graft.catalog.GraftTable].currentFiles
      assert(files.size >= 3, s"expected >=3 day-local files, got ${files.size}")
      files.foreach { f =>
        val dayOf = (b: String) => b.substring(0, 10)
        assert(f.minBound.get("ts").map(dayOf) == f.maxBound.get("ts").map(dayOf),
          s"file ${f.path} spans days: ${f.minBound.get("ts")}..${f.maxBound.get("ts")}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("delta writes: merge-on-read UPDATE/MERGE leave data files byte-identical") {
    val wh = freshDir("delta")
    mkCatalog("tcDl", wh)
    spark.sql("CREATE NAMESPACE tcDl.d")
    spark.sql(
      """CREATE TABLE tcDl.d.t (id BIGINT, v STRING)
        |TBLPROPERTIES ('write.update.mode'='merge-on-read',
        |               'write.merge.mode'='merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO tcDl.d.t SELECT id, 'orig' FROM range(100)")
    import org.apache.spark.sql.connector.catalog.Identifier
    val cata = spark.sessionState.catalogManager.catalog("tcDl")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    def tbl = cata.loadTable(Identifier.of(Array("d"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]
    def snap = tbl.readSnapshot.get
    def filePaths = tbl.currentFiles.map(_.path).toSet
    val beforeFiles = filePaths
    assert(beforeFiles.nonEmpty)

    // metadata columns are directly queryable
    val meta = spark.sql("SELECT _file, _pos, id FROM tcDl.d.t WHERE id < 3")
      .collect()
    assert(meta.length == 3 && meta.forall(r => r.getString(0).startsWith("d/t/")))

    // MOR UPDATE: a 10-row update must write deltas, not rewrite files
    spark.sql("UPDATE tcDl.d.t SET v = 'upd' WHERE id >= 90")
    assert(spark.sql("SELECT COUNT(*) FROM tcDl.d.t WHERE v = 'upd'").collect()(0).getLong(0) == 10)
    assert(spark.sql("SELECT COUNT(*) FROM tcDl.d.t").collect()(0).getLong(0) == 100)
    val afterUpdate = snap
    assert(beforeFiles.subsetOf(filePaths),
      "MOR update must not rewrite existing data files")
    assert(afterUpdate.deleteFiles.nonEmpty, "MOR update must add position deletes")

    // the changelog resolves the delta commit via the position-delete
    // fast path: 10 old versions out, 10 new versions in
    val ch = spark.read.option("start-snapshot-id", "1").table("tcDl.d.`t$changes`")
    assert(ch.filter("_change_type = 'delete' AND v = 'orig' AND id >= 90").count() == 10)
    assert(ch.filter("_change_type = 'insert' AND v = 'upd'").count() == 10)

    // MOR MERGE: matched update + unmatched insert, still no rewrite
    spark.sql(
      """MERGE INTO tcDl.d.t t
        |USING (SELECT id FROM range(95, 110)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = 'merged'
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, 'inserted')""".stripMargin)
    assert(spark.sql("SELECT COUNT(*) FROM tcDl.d.t").collect()(0).getLong(0) == 110)
    assert(spark.sql("SELECT COUNT(*) FROM tcDl.d.t WHERE v = 'merged'").collect()(0).getLong(0) == 5)
    assert(spark.sql("SELECT COUNT(*) FROM tcDl.d.t WHERE v = 'inserted'").collect()(0).getLong(0) == 10)
    assert(spark.sql("SELECT COUNT(*) FROM tcDl.d.t WHERE v = 'upd'").collect()(0).getLong(0) == 5)
    assert(beforeFiles.subsetOf(filePaths),
      "MOR merge must not rewrite existing data files")

    // complex-predicate MOR DELETE (subquery → not SupportsDelete-able)
    // also routes through the delta path: files stay byte-identical
    spark.sql("ALTER TABLE tcDl.d.t SET TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    val filesBeforeDel = filePaths
    assert(filesBeforeDel.nonEmpty)
    spark.sql(
      """DELETE FROM tcDl.d.t WHERE id IN
        |  (SELECT id FROM tcDl.d.t WHERE v = 'inserted' AND id >= 105)""".stripMargin)
    assert(spark.sql("SELECT COUNT(*) FROM tcDl.d.t").collect()(0).getLong(0) == 105)
    assert(filesBeforeDel.subsetOf(filePaths),
      "MOR delta delete must not rewrite data files")

    // deltas stack and compaction settles them
    graft.catalog.Maintenance.compact(spark,
      cata.loadTable(Identifier.of(Array("d"), "t"))
        .asInstanceOf[graft.catalog.GraftTable], targetFiles = 1)
    assert(snap.deleteFiles.isEmpty, "compaction must clear delete files")
    assert(spark.sql("SELECT COUNT(*) FROM tcDl.d.t").collect()(0).getLong(0) == 105)
    assert(spark.sql("SELECT COUNT(*) FROM tcDl.d.t WHERE v = 'merged'").collect()(0).getLong(0) == 5)
  }

  test("streaming read tails append snapshots; compaction is skipped; row-level ops fail it") {
    val wh = freshDir("strm")
    mkCatalog("tcSt", wh)
    spark.sql("CREATE NAMESPACE tcSt.st")
    spark.sql("CREATE TABLE tcSt.st.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO tcSt.st.t SELECT id, 'w1' FROM range(50)")

    val q = spark.readStream.table("tcSt.st.t")
      .writeStream.format("memory").queryName("graft_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("graft_tail").count() == 50)

      // new commits arrive as new micro-batches
      spark.sql("INSERT INTO tcSt.st.t SELECT id, 'w2' FROM range(50, 80)")
      q.processAllAvailable()
      assert(spark.table("graft_tail").count() == 80)
      assert(spark.table("graft_tail").filter("v = 'w2'").count() == 30)

      // compaction must NOT re-emit rows
      import org.apache.spark.sql.connector.catalog.Identifier
      val cata = spark.sessionState.catalogManager.catalog("tcSt")
        .asInstanceOf[graft.catalog.RelativeCatalog]
      graft.catalog.Maintenance.compact(spark,
        cata.loadTable(Identifier.of(Array("st"), "t"))
          .asInstanceOf[graft.catalog.GraftTable], targetFiles = 1)
      spark.sql("INSERT INTO tcSt.st.t VALUES (1000, 'w3')")
      q.processAllAvailable()
      assert(spark.table("graft_tail").count() == 81,
        "compaction must not re-emit rows into the stream")
    } finally {
      q.stop()
      spark.catalog.dropTempView("graft_tail")
    }

    // a row-level commit has no append-only interpretation
    spark.sql("DELETE FROM tcSt.st.t WHERE id < 10")
    val q2 = spark.readStream.table("tcSt.st.t")
      .writeStream.format("memory").queryName("graft_tail2")
      .outputMode("append").start()
    try {
      val e = intercept[Exception] { q2.processAllAvailable() }
      assert(e.getMessage.contains("non-append") || e.getMessage.contains("nonappend"),
        s"unexpected: ${e.getMessage}")
    } finally {
      q2.stop()
      spark.catalog.dropTempView("graft_tail2")
    }
  }

  test("Trigger.AvailableNow drains the backlog in rate-limited batches and stops") {
    val wh = freshDir("availnow")
    mkCatalog("tcAn", wh)
    spark.sql("CREATE NAMESPACE tcAn.st")
    spark.sql("CREATE TABLE tcAn.st.t (id BIGINT)")
    (0 until 3).foreach(i =>
      spark.sql(s"INSERT INTO tcAn.st.t SELECT id FROM range(${i * 10}, ${i * 10 + 10})"))
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream
      .option("max-rows-per-trigger", "10")
      .table("tcAn.st.t")
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
        val n = df.count()
        if (n > 0) batches.synchronized { batches += n }
        ()
      })
      .start()
    // AvailableNow must terminate on its own once the backlog drains
    assert(q.awaitTermination(120000), "AvailableNow query did not stop")
    val sizes = batches.synchronized { batches.toList }
    assert(sizes.sum == 30 && sizes.size == 3, s"$sizes")
  }

  test("column position moves; $manifests and $delete_files metadata tables") {
    val wh = freshDir("mvmeta")
    mkCatalog("tcMv", wh)
    spark.sql("CREATE NAMESPACE tcMv.m")
    spark.sql("CREATE TABLE tcMv.m.t (id BIGINT, v STRING, w DOUBLE) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql("INSERT INTO tcMv.m.t SELECT id, CAST(id AS STRING), id * 0.5 FROM range(20)")
    // metadata-only reorder: ids keep their values, data still reads
    spark.sql("ALTER TABLE tcMv.m.t ALTER COLUMN w FIRST")
    assert(spark.table("tcMv.m.t").columns.toSeq == Seq("w", "id", "v"))
    spark.sql("ALTER TABLE tcMv.m.t ALTER COLUMN w AFTER id")
    assert(spark.table("tcMv.m.t").columns.toSeq == Seq("id", "w", "v"))
    assert(spark.sql("SELECT SUM(w) FROM tcMv.m.t").collect()(0).getDouble(0) ==
      (0 until 20).map(_ * 0.5).sum)
    // MOR delete → one live position-delete file in $delete_files
    spark.sql("DELETE FROM tcMv.m.t WHERE id < 5")
    val dels = spark.sql("SELECT content, record_count FROM tcMv.m.`t$delete_files`").collect()
    assert(dels.length == 1 && dels(0).getString(0) == "position" && dels(0).getLong(1) == 5)
    // $manifests lists the spilled chunks (none yet for a small table)
    assert(spark.sql("SELECT * FROM tcMv.m.`t$manifests`").collect().length >= 0)
  }

  test("INSERT OVERWRITE: filter overwrite and dynamic partition overwrite") {
    val wh = freshDir("ovw")
    mkCatalog("tcOv", wh)
    spark.sql("CREATE NAMESPACE tcOv.o")
    spark.sql("CREATE TABLE tcOv.o.t (k INT, v STRING) PARTITIONED BY (k)")
    spark.sql("INSERT INTO tcOv.o.t VALUES (1, 'a1'), (1, 'a2'), (2, 'b1'), (3, 'c1')")
    import org.apache.spark.sql.connector.catalog.Identifier
    val cat = spark.sessionState.catalogManager.catalog("tcOv")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    def files = cat.loadTable(Identifier.of(Array("o"), "t"))
      .asInstanceOf[graft.catalog.GraftTable].currentFiles
    val k3FileBefore = files.filter(_.partition("k") == "3").map(_.path).toSet

    // STATIC partition overwrite → overwrite-by-filter (k = 1)
    spark.sql("INSERT OVERWRITE tcOv.o.t PARTITION (k = 1) SELECT 'A-NEW'")
    assert(spark.sql("SELECT v FROM tcOv.o.t WHERE k = 1").collect()
      .map(_.getString(0)).toSeq == Seq("A-NEW"))
    assert(spark.sql("SELECT COUNT(*) FROM tcOv.o.t").collect()(0).getLong(0) == 3)
    assert(files.filter(_.partition("k") == "3").map(_.path).toSet == k3FileBefore,
      "untouched partitions carry over byte-identical")

    // DYNAMIC overwrite: only the partitions in the incoming data move
    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql("INSERT OVERWRITE tcOv.o.t VALUES (2, 'B-NEW'), (4, 'd1')")
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    val rows = spark.sql("SELECT k, v FROM tcOv.o.t ORDER BY k, v").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((1, "A-NEW"), (2, "B-NEW"), (3, "c1"), (4, "d1")), s"$rows")
    assert(files.filter(_.partition("k") == "3").map(_.path).toSet == k3FileBefore,
      "dynamic overwrite must not rewrite partitions the data doesn't touch")

    // dynamic overwrite over a TRANSFORMED spec (months): tuple
    // matching goes through the same writer-stamped encoding
    spark.sql("CREATE TABLE tcOv.o.m (ts TIMESTAMP, v STRING) PARTITIONED BY (months(ts))")
    spark.sql("""INSERT INTO tcOv.o.m VALUES
      (TIMESTAMP '2024-01-10 00:00:00', 'jan'), (TIMESTAMP '2024-02-10 00:00:00', 'feb')""")
    def mFiles = cat.loadTable(Identifier.of(Array("o"), "m"))
      .asInstanceOf[graft.catalog.GraftTable].currentFiles
    val febBefore = mFiles.filter(_.partition("ts_month") == "649").map(_.path).toSet
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      spark.sql("INSERT OVERWRITE tcOv.o.m VALUES (TIMESTAMP '2024-01-20 00:00:00', 'JAN2')")
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    val mrows = spark.sql("SELECT v FROM tcOv.o.m ORDER BY v").collect().map(_.getString(0)).toSeq
    assert(mrows == Seq("JAN2", "feb"), s"$mrows")
    assert(mFiles.filter(_.partition("ts_month") == "649").map(_.path).toSet == febBefore)

    // a file list held in several manifest chunks: the files of every
    // chunk carry over
    spark.sql("CREATE TABLE tcOv.o.c (k INT, v STRING) PARTITIONED BY (k) " +
      "TBLPROPERTIES ('write.metadata.manifest-chunk-size'='2')")
    (1 to 5).foreach(k => spark.sql(s"INSERT INTO tcOv.o.c VALUES ($k, 'old$k')"))
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try spark.sql("INSERT OVERWRITE tcOv.o.c VALUES (1, 'new1')")
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    val crows = spark.sql("SELECT k, v FROM tcOv.o.c ORDER BY k").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(crows == Seq((1, "new1"), (2, "old2"), (3, "old3"), (4, "old4"), (5, "old5")),
      s"$crows")
  }

  test("TRUNCATE TABLE: metadata-only empty snapshot, history stays readable") {
    val wh = freshDir("trunc")
    mkCatalog("tcTr", wh)
    spark.sql("CREATE NAMESPACE tcTr.t")
    spark.sql("CREATE TABLE tcTr.t.t (id BIGINT)")
    spark.sql("INSERT INTO tcTr.t.t SELECT id FROM range(100)")
    import org.apache.spark.sql.connector.catalog.Identifier
    val cat = spark.sessionState.catalogManager.catalog("tcTr")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    def tbl = cat.loadTable(Identifier.of(Array("t"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]
    val before = tbl.meta.currentSnapshotId.get
    spark.sql("TRUNCATE TABLE tcTr.t.t")
    assert(spark.sql("SELECT COUNT(*) FROM tcTr.t.t").collect()(0).getLong(0) == 0)
    assert(spark.sql(s"SELECT COUNT(*) FROM tcTr.t.t VERSION AS OF $before")
      .collect()(0).getLong(0) == 100, "pre-truncate snapshot stays readable")
    spark.sql("INSERT INTO tcTr.t.t SELECT id FROM range(5)")
    assert(spark.sql("SELECT COUNT(*) FROM tcTr.t.t").collect()(0).getLong(0) == 5)
  }

  test("target file size: a huge partition rolls into bounded, partition-local files") {
    val wh = freshDir("tfs")
    mkCatalog("tcTf", wh)
    spark.sql("CREATE NAMESPACE tcTf.t")
    import org.apache.spark.sql.connector.catalog.Identifier
    val cat = spark.sessionState.catalogManager.catalog("tcTf")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    def files(t: String) = {
      val tbl = cat.loadTable(Identifier.of(Array("t"), t)).asInstanceOf[graft.catalog.GraftTable]
      tbl.readSnapshot.map(tbl.ops.allFiles).getOrElse(Nil)
    }
    // ~8 MB of rows from ONE task (one range partition): every file
    // past the first is the writer's size roll, whatever the write path
    // (deterministic, so a copy-on-write MERGE accepts it as a source)
    val wide = "repeat(sha2(CAST(id AS STRING), 256), 12) AS payload FROM range(0, 10000, 1, 1)"
    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    // (table, partitioned, extra properties, seed rows, the write, rows after)
    val cases = Seq(
      ("part_append", true, "", Nil, s"INSERT INTO tcTf.t.part_append SELECT 1, $wide", 10000L),
      ("flat_append", false, "", Nil, s"INSERT INTO tcTf.t.flat_append SELECT id, $wide", 10000L),
      ("mor_merge", false, ", 'write.merge.mode'='merge-on-read'", Seq("(0, 'seed')"),
        s"""MERGE INTO tcTf.t.mor_merge t USING (SELECT id AS k, $wide) s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET payload = s.payload
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin, 10000L),
      ("cow_merge", false, "", Seq("(0, 'seed')"),
        s"""MERGE INTO tcTf.t.cow_merge t USING (SELECT id AS k, $wide) s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET payload = s.payload
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin, 10000L),
      ("dyn_overwrite", true, "", Seq("(1, 'old')", "(2, 'kept')"),
        s"INSERT OVERWRITE tcTf.t.dyn_overwrite SELECT 1, $wide", 10001L))
    for ((t, partitioned, props, seed, write, rows) <- cases) {
      spark.sql(s"CREATE TABLE tcTf.t.$t (k BIGINT, payload STRING) " +
        (if (partitioned) "PARTITIONED BY (k) " else "") +
        s"TBLPROPERTIES ('write.target-file-size-bytes'='65536'$props)")
      seed.foreach(r => spark.sql(s"INSERT INTO tcTf.t.$t VALUES $r"))
      val before = files(t).map(_.path).toSet
      if (t == "dyn_overwrite") spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try spark.sql(write)
      finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
      val added = files(t).filterNot(f => before(f.path))
      assert(added.size > 3, s"$t: expected size-rolled files, got ${added.size}")
      if (partitioned)
        assert(added.forall(_.partition("k") == "1"), s"$t: rolled files stay partition-local")
      assert(spark.sql(s"SELECT COUNT(*) FROM tcTf.t.$t").collect()(0).getLong(0) == rows, t)
    }
  }

  test("concurrent dynamic overwrites of disjoint partitions both land") {
    val wh = freshDir("ovwconc")
    mkCatalog("tcOc", wh)
    spark.sql("CREATE NAMESPACE tcOc.o")
    spark.sql("CREATE TABLE tcOc.o.t (k INT, v STRING) PARTITIONED BY (k)")
    spark.sql("INSERT INTO tcOc.o.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      val fa = Future(spark.sql("INSERT OVERWRITE tcOc.o.t VALUES (1, 'A2')"))
      val fb = Future(spark.sql("INSERT OVERWRITE tcOc.o.t VALUES (2, 'B2')"))
      Await.result(fa, 120.seconds); Await.result(fb, 120.seconds)
      pool.shutdown()
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    // the OCC retry rebases the loser onto the winner's file set: both
    // partition replacements land, k=3 survives untouched
    val rows = spark.sql("SELECT k, v FROM tcOc.o.t ORDER BY k").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((1, "A2"), (2, "B2"), (3, "c")), s"$rows")
  }

  test("years/months/hours/truncate partition transforms: stamped, pruned, DML-safe") {
    val wh = freshDir("ptx")
    mkCatalog("tcPx", wh)
    spark.sql("CREATE NAMESPACE tcPx.p")
    // timestamp table partitioned by months(ts)
    spark.sql("CREATE TABLE tcPx.p.ev (ts TIMESTAMP, v BIGINT) PARTITIONED BY (months(ts))")
    spark.sql("""INSERT INTO tcPx.p.ev VALUES
      (TIMESTAMP '2024-01-15 10:00:00', 1), (TIMESTAMP '2024-01-20 11:00:00', 2),
      (TIMESTAMP '2024-03-02 09:30:00', 3), (TIMESTAMP '2024-03-28 23:00:00', 4)""")
    import org.apache.spark.sql.connector.catalog.Identifier
    val cat = spark.sessionState.catalogManager.catalog("tcPx")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    def evFiles = cat.loadTable(Identifier.of(Array("p"), "ev"))
      .asInstanceOf[graft.catalog.GraftTable].currentFiles
    // fanout stamped one months-tuple per file: 2024-01 = 648, 2024-03 = 650
    assert(evFiles.map(_.partition("ts_month")).toSet == Set("648", "650"), s"$evFiles")
    assert(evFiles.size == 2, "partition-local fanout: one file per month")
    assert(spark.sql("SELECT SUM(v) FROM tcPx.p.ev WHERE ts >= TIMESTAMP '2024-03-01 00:00:00'")
      .collect()(0).getLong(0) == 7)

    // string table partitioned by truncate(2, k); COW UPDATE resolves
    // the truncate distribution through the FunctionCatalog
    spark.sql("CREATE TABLE tcPx.p.s (k STRING, n BIGINT) PARTITIONED BY (truncate(2, k))")
    spark.sql("INSERT INTO tcPx.p.s VALUES ('aa1', 1), ('aa2', 2), ('bb1', 3), ('zz', 4)")
    def sFiles = cat.loadTable(Identifier.of(Array("p"), "s"))
      .asInstanceOf[graft.catalog.GraftTable].currentFiles
    assert(sFiles.map(_.partition("k_trunc")).toSet == Set("aa", "bb", "zz"))
    spark.sql("UPDATE tcPx.p.s SET n = n + 10 WHERE k = 'bb1'")
    assert(spark.sql("SELECT SUM(n) FROM tcPx.p.s").collect()(0).getLong(0) == 20)
    assert(sFiles.map(_.partition("k_trunc")).toSet == Set("aa", "bb", "zz"),
      "rewrite keeps files partition-local under truncate")

    // hours + years quick round-trips incl. SQL function parity
    spark.sql("CREATE TABLE tcPx.p.h (ts TIMESTAMP, v INT) PARTITIONED BY (hours(ts))")
    spark.sql("INSERT INTO tcPx.p.h VALUES (TIMESTAMP '1970-01-02 01:30:00', 5)")
    val hFiles = cat.loadTable(Identifier.of(Array("p"), "h"))
      .asInstanceOf[graft.catalog.GraftTable].currentFiles
    assert(hFiles.head.partition("ts_hour") == "25")
    assert(spark.sql("SELECT tcPx.hours(TIMESTAMP '1970-01-02 01:30:00')")
      .collect()(0).getLong(0) == 25L)
    assert(spark.sql("SELECT tcPx.years(DATE '2024-06-01'), tcPx.months(DATE '2024-03-05'), " +
        "tcPx.truncate(10, 47), tcPx.truncate(2, 'hello')").collect()(0).toSeq ==
      Seq(54, 650, 40, "he"))
  }

  test("equality deletes prune by sequence number against the scanned file set") {
    import graft.catalog.Mor
    import graft.meta.DataFile
    def df(path: String, seq: Option[Long], content: Option[String] = None) =
      DataFile(path = path, records = 1, bytes = 1, seq = seq, content = content)
    val eqOld = df("deletes/d1.parquet", Some(3L), Some("equality"))
    val eqNew = df("deletes/d2.parquet", Some(9L), Some("equality"))
    val eqNoSeq = df("deletes/d3.parquet", None, Some("equality"))
    val scanned = Seq(df("data/a.parquet", Some(5L)), df("data/b.parquet", Some(7L)))
    val kept = Mor.relevantDeletes(Seq(eqOld, eqNew, eqNoSeq), scanned)
    // seq 3 ≤ every scanned file's seq → can't kill any row → pruned;
    // seq 9 applies to both; missing seq kept conservatively
    assert(kept == Seq(eqNew, eqNoSeq), s"$kept")
    // a legacy file without a recorded seq counts as seq 0 → everything applies
    val legacy = scanned :+ df("data/old.parquet", None)
    assert(Mor.relevantDeletes(Seq(eqOld, eqNew, eqNoSeq), legacy).size == 3)
  }

  test("equality deletes prune by key-column value bounds (partition-scoped deletes)") {
    import graft.catalog.Mor
    import graft.meta.DataFile
    def del(min: String, max: String, nulls: Long = 0) = DataFile(
      "deletes/d.parquet", 1, 1, seq = Some(9L), content = Some("equality"),
      minBound = Map("k" -> min), maxBound = Map("k" -> max),
      nullCount = Map("k" -> nulls))
    def data(min: String, max: String, nulls: Long = 0, seq: Long = 1L) = DataFile(
      "data/a.parquet", 1, 1, seq = Some(seq),
      minBound = Map("k" -> min), maxBound = Map("k" -> max),
      nullCount = Map("k" -> nulls))

    // ranges disjoint under BOTH orderings (numeric and lexicographic),
    // no nulls on either side → pruned. (e.g. [60,80] vs [10,49]:
    // 49 < 60 numerically AND "49" < "60" lexically)
    assert(!Mor.equalityDeleteMayApply(del("60", "80"), data("10", "49")))
    // overlapping ranges → kept
    assert(Mor.equalityDeleteMayApply(del("40", "45"), data("10", "49")))
    // disjoint ranges but BOTH sides may hold nulls → null-safe <=> can
    // still match → kept
    assert(Mor.equalityDeleteMayApply(del("60", "80", nulls = 1), data("10", "49", nulls = 1)))
    // nulls only on one side → no null match possible → pruned
    assert(!Mor.equalityDeleteMayApply(del("60", "80", nulls = 1), data("10", "49", nulls = 0)))
    // disjoint numerically but lexically interleaved ([100,200] spans
    // "1xx" strings that sort inside ["1","50"]) → without a type tag
    // the column could be a string → kept
    assert(Mor.equalityDeleteMayApply(del("100", "200"), data("1", "50")))
    // digit-string trap: [2,5] vs [10,30] is numerically disjoint but
    // overlaps LEXICALLY ("2" ∈ ["10","30"]) — without a type tag the
    // column could be a string, so it must be kept
    assert(Mor.equalityDeleteMayApply(del("2", "5"), data("10", "30")))
    // disjoint under both orderings → pruned
    assert(!Mor.equalityDeleteMayApply(del("5", "9"), data("10", "30")))
    // non-numeric encodings (dates/timestamps/strings) compare lexically
    assert(!Mor.equalityDeleteMayApply(
      del("2024-05-01", "2024-05-02"), data("2024-01-01", "2024-02-01")))
    // missing stats on the data file → conservative keep
    assert(Mor.equalityDeleteMayApply(del("100", "200"),
      DataFile("data/old.parquet", 1, 1, seq = Some(1L))))
    // a delete key column ABSENT from the data file's bounds (rename
    // desync) → conservative keep
    assert(Mor.equalityDeleteMayApply(
      del("100", "200").copy(minBound = Map("renamed" -> "100"),
        maxBound = Map("renamed" -> "200")),
      data("1", "50")))
    // seq gate still applies regardless of bounds
    assert(!Mor.equalityDeleteMayApply(del("40", "120"), data("1", "50", seq = 9L)))
  }

  test("partition-scoped equality DELETE is pruned from other partitions' scans") {
    val wh = freshDir("eqpart")
    mkCatalog("tcEqP", wh)
    spark.sql("CREATE NAMESPACE tcEqP.p")
    spark.sql("CREATE TABLE tcEqP.p.t (id BIGINT, part INT) PARTITIONED BY (part) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read', " +
      "'write.delete.granularity'='equality')")
    spark.sql("INSERT INTO tcEqP.p.t SELECT id, CAST(id % 3 AS INT) FROM range(30)")
    spark.sql("DELETE FROM tcEqP.p.t WHERE id = 4 AND part = 1")
    import org.apache.spark.sql.connector.catalog.Identifier
    val cat = spark.sessionState.catalogManager.catalog("tcEqP")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    val t = cat.loadTable(Identifier.of(Array("p"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]
    val snap = t.readSnapshot.get
    val dels = snap.deleteFiles
    assert(dels.nonEmpty && dels.forall(graft.catalog.Mor.isEquality))
    // the DELETE bound part=1, so files of part=2 can never be touched:
    // the delete list prunes to empty for a part=2 scan…
    val part2 = t.ops.allFiles(snap).filter(_.partition.get("part").contains("2"))
    assert(part2.nonEmpty)
    assert(graft.catalog.Mor.relevantDeletes(dels, part2).isEmpty,
      "equality delete with part=1 bounds must not ride along on a part=2 scan")
    // …and stays live for part=1 (where it actually kills a row)
    val part1 = t.ops.allFiles(snap).filter(_.partition.get("part").contains("1"))
    assert(graft.catalog.Mor.relevantDeletes(dels, part1) == dels)
    // correctness end-to-end
    assert(spark.sql("SELECT COUNT(*) FROM tcEqP.p.t WHERE part = 1")
      .collect()(0).getLong(0) == 9)
    assert(spark.sql("SELECT COUNT(*) FROM tcEqP.p.t WHERE part = 2")
      .collect()(0).getLong(0) == 10)
  }

  test("small MOR table reports real size and broadcasts in a join") {
    val wh = freshDir("morstats")
    mkCatalog("tcMs", wh)
    spark.sql("CREATE NAMESPACE tcMs.s")
    spark.sql("CREATE TABLE tcMs.s.dim (id BIGINT, name STRING) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql("INSERT INTO tcMs.s.dim SELECT id, CONCAT('n', id) FROM range(100)")
    spark.sql("DELETE FROM tcMs.s.dim WHERE id >= 90") // live delete file → MergeOnReadScan
    import org.apache.spark.sql.connector.catalog.Identifier
    val cat = spark.sessionState.catalogManager.catalog("tcMs")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    assert(cat.loadTable(Identifier.of(Array("s"), "dim"))
      .asInstanceOf[graft.catalog.GraftTable].readSnapshot.get.deleteFiles.nonEmpty)
    val big = spark.range(0, 100000).toDF("id2")
    big.createOrReplaceTempView("big_probe")
    val joined = spark.sql(
      "SELECT COUNT(*) FROM big_probe b JOIN tcMs.s.dim d ON b.id2 = d.id")
    // committed-bytes sizeInBytes (not defaultSizeInBytes=Long.Max) →
    // the MOR side is broadcastable
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"small MOR side must broadcast:\n$plan")
    assert(joined.collect()(0).getLong(0) == 90)
  }

  test("months partition stamping is session-timezone independent") {
    val wh = freshDir("tzsafe")
    mkCatalog("tcTz", wh)
    spark.sql("CREATE NAMESPACE tcTz.p")
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      spark.sql("CREATE TABLE tcTz.p.ev (ts TIMESTAMP, v BIGINT) PARTITIONED BY (months(ts))")
      // 2024-02-29 20:00 LA == 2024-03-01 04:00 UTC: the UTC months
      // tuple is 650 (March). A session-tz cast("date") would stamp
      // 649 and disagree with the executor-side KeySpec path.
      spark.sql("INSERT INTO tcTz.p.ev VALUES (TIMESTAMP '2024-02-29 20:00:00', 1)")
      import org.apache.spark.sql.connector.catalog.Identifier
      val cat = spark.sessionState.catalogManager.catalog("tcTz")
        .asInstanceOf[graft.catalog.RelativeCatalog]
      val files = cat.loadTable(Identifier.of(Array("p"), "ev"))
        .asInstanceOf[graft.catalog.GraftTable].currentFiles
      assert(files.map(_.partition("ts_month")) == List("650"), s"$files")
      // the registered SQL function (the executor/KeySpec path) agrees
      assert(spark.sql("SELECT tcTz.months(TIMESTAMP '2024-02-29 20:00:00')")
        .collect()(0).getInt(0) == 650)
      // and a COW rewrite under the non-UTC session keeps the tuple
      spark.sql("UPDATE tcTz.p.ev SET v = v + 1")
      val files2 = cat.loadTable(Identifier.of(Array("p"), "ev"))
        .asInstanceOf[graft.catalog.GraftTable].currentFiles
      assert(files2.map(_.partition("ts_month")) == List("650"), s"$files2")
      assert(spark.sql("SELECT SUM(v) FROM tcTz.p.ev").collect()(0).getLong(0) == 2L)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("zero-width truncate/bucket rejected at DDL time, not first write") {
    val wh = freshDir("badwidth")
    mkCatalog("tcBw", wh)
    spark.sql("CREATE NAMESPACE tcBw.p")
    intercept[Exception] {
      spark.sql("CREATE TABLE tcBw.p.t (k STRING) PARTITIONED BY (truncate(0, k))") }
    intercept[Exception] {
      spark.sql("CREATE TABLE tcBw.p.t2 (k BIGINT) PARTITIONED BY (bucket(0, k))") }
    // update_spec path refuses too, and commits nothing
    spark.sql("CREATE TABLE tcBw.p.t3 (k BIGINT, v STRING)")
    import org.apache.spark.sql.connector.catalog.Identifier
    val cat = spark.sessionState.catalogManager.catalog("tcBw")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    def t3 = cat.loadTable(Identifier.of(Array("p"), "t3"))
      .asInstanceOf[graft.catalog.GraftTable]
    intercept[IllegalArgumentException] {
      graft.catalog.Maintenance.updateSpec(t3, Seq("k" -> "truncate[0]")) }
    intercept[IllegalArgumentException] {
      graft.catalog.Maintenance.updateSpec(t3, Seq("k" -> "bucket[-3]")) }
    assert(t3.meta.spec.fields.isEmpty, "no broken spec was committed")
  }

  test("scan-side delete-file pruning: unrelated delete files drop from pruned scans") {
    val wh = freshDir("delprune")
    mkCatalog("tcDp", wh)
    spark.sql("CREATE NAMESPACE tcDp.d")
    spark.sql("CREATE TABLE tcDp.d.t (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql("INSERT INTO tcDp.d.t SELECT id, 'a' FROM range(100)")
    spark.sql("INSERT INTO tcDp.d.t SELECT id, 'b' FROM range(1000, 1100)")
    spark.sql("DELETE FROM tcDp.d.t WHERE id < 10")
    import org.apache.spark.sql.connector.catalog.Identifier
    val cat = spark.sessionState.catalogManager.catalog("tcDp")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    val t = cat.loadTable(Identifier.of(Array("d"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]
    val snap = t.readSnapshot.get
    val snapFiles = t.ops.allFiles(snap)
    val dels = snap.deleteFiles
    assert(dels.nonEmpty)
    // position-delete files carry EXACT file_path bounds now
    assert(dels.forall(d => d.minBound.contains("file_path") &&
      d.maxBound.contains("file_path")), s"missing exact bounds: $dels")
    // the delete references only batch-1 files: batch-2-only scans drop it
    val unrelated = snapFiles.filterNot(f => dels.exists(d =>
      f.path >= d.minBound("file_path") && f.path <= d.maxBound("file_path")))
    assert(unrelated.nonEmpty)
    assert(graft.catalog.Mor.relevantDeletes(dels, unrelated).isEmpty,
      "delete file must prune against files it cannot reference")
    assert(graft.catalog.Mor.relevantDeletes(dels, snapFiles) == dels)
    // end-to-end answers are unchanged by the pruning
    assert(spark.sql("SELECT COUNT(*) FROM tcDp.d.t WHERE id >= 1000")
      .collect()(0).getLong(0) == 100)
    assert(spark.sql("SELECT COUNT(*) FROM tcDp.d.t").collect()(0).getLong(0) == 190)
  }

  test("streaming read rate limit: a backfill drains as bounded micro-batches") {
    val wh = freshDir("strmrl")
    mkCatalog("tcRl", wh)
    spark.sql("CREATE NAMESPACE tcRl.st")
    spark.sql("CREATE TABLE tcRl.st.t (id BIGINT)")
    // 4 append snapshots BEFORE the stream starts (a backlog)
    (0 until 4).foreach(i =>
      spark.sql(s"INSERT INTO tcRl.st.t SELECT id FROM range(${i * 10}, ${i * 10 + 10})"))
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream
      .option("max-rows-per-trigger", "10")
      .table("tcRl.st.t")
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
        val n = df.count()
        if (n > 0) batchSizes.synchronized { batchSizes += n }
        ()
      })
      .start()
    try {
      q.processAllAvailable()
      val sizes = batchSizes.synchronized { batchSizes.toList }
      assert(sizes.sum == 40, s"all rows must arrive exactly once: $sizes")
      // the 4-snapshot backlog must NOT collapse into one giant batch
      assert(sizes.size == 4, s"expected 4 rate-limited batches, got $sizes")
      assert(sizes.forall(_ == 10), s"each batch capped at one 10-row snapshot: $sizes")
    } finally q.stop()
  }

  test("native streaming sink: writeStream.toTable commits one snapshot per epoch") {
    val wh = freshDir("ssink")
    mkCatalog("tcSk", wh)
    spark.sql("CREATE NAMESPACE tcSk.k")
    spark.sql("CREATE TABLE tcSk.k.t (id BIGINT, v STRING)")
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sink_ckpt").toString
    val q = ms.toDS().map(i => (i, s"v$i")).toDF("id", "v")
      .writeStream.option("checkpointLocation", ckpt)
      .toTable("tcSk.k.t")
    try {
      ms.addData(1L, 2L, 3L)
      q.processAllAvailable()
      assert(spark.sql("SELECT COUNT(*) FROM tcSk.k.t").collect()(0).getLong(0) == 3)
      ms.addData(4L, 5L)
      q.processAllAvailable()
      assert(spark.sql("SELECT COUNT(*) FROM tcSk.k.t").collect()(0).getLong(0) == 5)
    } finally q.stop()

    // one snapshot per epoch, stamped for exactly-once replay detection
    import org.apache.spark.sql.connector.catalog.Identifier
    val cata = spark.sessionState.catalogManager.catalog("tcSk")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    val meta = cata.loadTable(Identifier.of(Array("k"), "t"))
      .asInstanceOf[graft.catalog.GraftTable].meta
    val epochs = meta.snapshots.flatMap(_.summary.get("streaming-epoch-id"))
    assert(epochs.distinct.size >= 2, s"expected >=2 epoch snapshots, got $epochs")
    assert(meta.snapshots.forall(s => s.summary.get("streaming-epoch-id").isEmpty ||
      s.summary.get("streaming-query-id").nonEmpty))

    // a PARTITIONED streaming sink: epoch files come out partition-
    // local and tuple-stamped through the same fanout machinery
    spark.sql("CREATE TABLE tcSk.k.p (grp STRING, id BIGINT) PARTITIONED BY (grp)")
    val ms2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_sink_ckpt2").toString
    val q2 = ms2.toDS().map(i => (if (i % 2 == 0) "even" else "odd", i)).toDF("grp", "id")
      .writeStream.option("checkpointLocation", ckpt2)
      .toTable("tcSk.k.p")
    try {
      ms2.addData(1L to 20L: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.sql("SELECT COUNT(*) FROM tcSk.k.p").collect()(0).getLong(0) == 20)
    val pFiles = cata.loadTable(Identifier.of(Array("k"), "p"))
      .asInstanceOf[graft.catalog.GraftTable].currentFiles
    assert(pFiles.nonEmpty)
    pFiles.foreach { f =>
      assert(f.minBound.get("grp") == f.maxBound.get("grp"),
        s"streaming epoch file ${f.path} spans partitions")
      assert(f.partition.get("grp").isDefined,
        s"streaming epoch file ${f.path} missing stamped tuple")
    }
  }

  test("dynamic file pruning: a broadcast dim filter skips fact files at runtime") {
    val wh = freshDir("dpp")
    mkCatalog("tcDp", wh)
    spark.sql("CREATE NAMESPACE tcDp.p")
    spark.sql("CREATE TABLE tcDp.p.fact (k INT, m BIGINT) PARTITIONED BY (k)")
    spark.sql("CREATE TABLE tcDp.p.dim (k INT, grp STRING)")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      spark.sql("INSERT INTO tcDp.p.fact SELECT CAST(id % 8 AS INT), id FROM range(1000)")
      spark.sql("INSERT INTO tcDp.p.dim SELECT CAST(id AS INT), CONCAT('g', id) FROM range(8)")
      val df = spark.sql(
        """SELECT SUM(f.m) AS s FROM tcDp.p.fact f
          |JOIN tcDp.p.dim d ON f.k = d.k
          |WHERE d.grp = 'g3'""".stripMargin)
      val rows = df.collect()
      assert(rows(0).getLong(0) == (0L until 1000L).filter(_ % 8 == 3).sum)
      // after execution the fact scan must have dropped the 7 files the
      // dim filter proved unreachable
      val scans = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }
      val factScan = scans.collectFirst {
        case s: graft.catalog.GraftStreamableScan if s.scannedFileCount >= 0 &&
          s.readSchema().fieldNames.contains("m") => s
      }
      assert(factScan.isDefined, s"fact scan not found in:\n${df.queryExecution.executedPlan}")
      assert(factScan.get.scannedFileCount <= 2,
        s"dynamic pruning left ${factScan.get.scannedFileCount} of 8 files")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("storage-partitioned join on days(ts): day-grouped tables join without a shuffle") {
    val wh = freshDir("spjd")
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.tcSd", "graft.catalog.RelativeCatalog")
    s.conf.set("spark.sql.catalog.tcSd.warehouse", wh)
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set(graft.catalog.SpjScan.PreserveGroupingKey, "true")
    s.sql("DROP NAMESPACE IF EXISTS tcSd.s CASCADE")
    s.sql("CREATE NAMESPACE tcSd.s")
    s.sql("CREATE TABLE tcSd.s.a (ts TIMESTAMP, m BIGINT) PARTITIONED BY (days(ts))")
    s.sql("CREATE TABLE tcSd.s.b (ts TIMESTAMP, label STRING) PARTITIONED BY (days(ts))")
    // 4 days x 6 hourly timestamps, identical ts values in both tables
    s.sql(
      """INSERT INTO tcSd.s.a
        |SELECT timestamp'2024-03-01 00:00:00'
        |  + make_interval(0,0,0,CAST(id DIV 6 AS INT),CAST((id % 6) * 4 AS INT),0,0), id
        |FROM range(24)""".stripMargin)
    s.sql(
      """INSERT INTO tcSd.s.b
        |SELECT timestamp'2024-03-01 00:00:00'
        |  + make_interval(0,0,0,CAST(id DIV 6 AS INT),CAST((id % 6) * 4 AS INT),0,0),
        |  CONCAT('L', id)
        |FROM range(24)""".stripMargin)
    val joined = s.sql(
      """SELECT a.ts, a.m, b.label
        |FROM tcSd.s.a a JOIN tcSd.s.b b ON a.ts = b.ts""".stripMargin)
    assert(joined.count() == 24)
    val plan = joined.queryExecution.executedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(joins.nonEmpty, s"expected a shuffled join in:\n$plan")
    val shuffles = joins.head.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty, s"days-SPJ still shuffled:\n$plan")
  }

  test("storage-partitioned join on bucket(k): writer-stamped tuples enable shuffle-free join") {
    val wh = freshDir("spjb")
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.tcSb", "graft.catalog.RelativeCatalog")
    s.conf.set("spark.sql.catalog.tcSb.warehouse", wh)
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set(graft.catalog.SpjScan.PreserveGroupingKey, "true")
    s.sql("DROP NAMESPACE IF EXISTS tcSb.s CASCADE")
    s.sql("CREATE NAMESPACE tcSb.s")
    s.sql("CREATE TABLE tcSb.s.a (k BIGINT, m BIGINT) PARTITIONED BY (bucket(4, k))")
    s.sql("CREATE TABLE tcSb.s.b (k BIGINT, label STRING) PARTITIONED BY (bucket(4, k))")
    s.sql("INSERT INTO tcSb.s.a SELECT id % 40, id FROM range(400)")
    s.sql("INSERT INTO tcSb.s.b SELECT id, CONCAT('L', id) FROM range(40)")
    // the writer stamped every file's bucket tuple into the metadata
    import org.apache.spark.sql.connector.catalog.Identifier
    val cata = s.sessionState.catalogManager.catalog("tcSb")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    val filesA = cata.loadTable(Identifier.of(Array("s"), "a"))
      .asInstanceOf[graft.catalog.GraftTable].currentFiles
    assert(filesA.forall(_.partition.contains("k_bucket")),
      s"bucket tuples not stamped: ${filesA.map(_.partition)}")

    // $partitions serves live from the stamped tuples (no stats pass)
    val parts = s.sql("SELECT partition, record_count FROM tcSb.s.`a$partitions`").collect()
    assert(parts.length >= 2 && parts.forall(_.getString(0).startsWith("k_bucket=")),
      s"live \\$$partitions wrong: ${parts.mkString(",")}")
    assert(parts.map(_.getLong(1)).sum == 400)

    val joined = s.sql(
      "SELECT a.k, a.m, b.label FROM tcSb.s.a a JOIN tcSb.s.b b ON a.k = b.k")
    assert(joined.count() == 400)
    val plan = joined.queryExecution.executedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(joins.nonEmpty, s"expected a shuffled join in:\n$plan")
    val shuffles = joins.head.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty, s"bucket-SPJ still shuffled:\n$plan")
  }

  test("z-order compaction clusters files on every z-column") {
    val wh = freshDir("zord")
    mkCatalog("tcZ", wh)
    spark.sql("CREATE NAMESPACE tcZ.z")
    spark.sql("CREATE TABLE tcZ.z.t (a BIGINT, b BIGINT, payload STRING)")
    // 100 x 100 grid: a and b are independent axes
    spark.sql(
      """INSERT INTO tcZ.z.t
        |SELECT id % 100, id DIV 100, CONCAT('p', id) FROM range(10000)""".stripMargin)
    import org.apache.spark.sql.connector.catalog.Identifier
    val cata = spark.sessionState.catalogManager.catalog("tcZ")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    def tbl = cata.loadTable(Identifier.of(Array("z"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]
    graft.catalog.Maintenance.compactZOrder(spark, tbl, Seq("a", "b"), targetFiles = 16)

    assert(spark.sql("SELECT COUNT(*) FROM tcZ.z.t").collect()(0).getLong(0) == 10000)
    assert(spark.sql("SELECT SUM(a), SUM(b) FROM tcZ.z.t").collect()(0).toSeq ==
      Seq(10000L * 99 / 2, 10000L * 99 / 2))

    val files = tbl.currentFiles
    assert(files.size >= 8, s"expected >=8 z-range files, got ${files.size}")
    // MOST files must be tight on BOTH axes (equal-count range chunks
    // can straddle a z-curve discontinuity, so a couple of wide files
    // are inherent to z-ordering — what matters is the aggregate)
    val tight = files.count { f =>
      val aw = f.maxBound("a").toLong - f.minBound("a").toLong
      val bw = f.maxBound("b").toLong - f.minBound("b").toLong
      aw <= 55 && bw <= 55
    }
    assert(tight >= files.size * 3 / 4,
      s"only $tight of ${files.size} files are z-clustered")
    // and pruning on EITHER axis now skips a large share of files
    import org.apache.spark.sql.sources.EqualTo
    val keptA = files.count(f => graft.catalog.FilePruning.keepFile(f, EqualTo("a", 10L)))
    val keptB = files.count(f => graft.catalog.FilePruning.keepFile(f, EqualTo("b", 90L)))
    assert(keptA <= files.size * 2 / 3, s"pruning on a kept $keptA of ${files.size}")
    assert(keptB <= files.size * 2 / 3, s"pruning on b kept $keptB of ${files.size}")
  }

  test("fanout invariant: every file partition-local and tuple-stamped, multi-column spec") {
    val wh = freshDir("fnv")
    mkCatalog("tcFv", wh)
    spark.sql("CREATE NAMESPACE tcFv.f")
    spark.sql(
      "CREATE TABLE tcFv.f.t (a INT, b STRING, id BIGINT) PARTITIONED BY (a, b)")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // three differently-shaped inserts incl. skew and nulls in data cols
      spark.sql(
        """INSERT INTO tcFv.f.t
          |SELECT CAST(id % 5 AS INT), CASE WHEN id % 3 = 0 THEN 'x' ELSE 'y' END, id
          |FROM range(500)""".stripMargin)
      spark.sql(
        """INSERT INTO tcFv.f.t
          |SELECT CAST(id % 2 AS INT), 'z', id FROM range(500, 900)""".stripMargin)
      // an UPDATE (COW rewrite) must preserve the invariant too
      spark.sql("UPDATE tcFv.f.t SET id = id + 10000 WHERE id < 50")
      import org.apache.spark.sql.connector.catalog.Identifier
      val cata = spark.sessionState.catalogManager.catalog("tcFv")
        .asInstanceOf[graft.catalog.RelativeCatalog]
      val files = cata.loadTable(Identifier.of(Array("f"), "t"))
        .asInstanceOf[graft.catalog.GraftTable].currentFiles
      assert(files.size >= 10, s"expected many partition-local files, got ${files.size}")
      files.foreach { f =>
        assert(f.minBound.get("a") == f.maxBound.get("a") &&
          f.minBound.get("b") == f.maxBound.get("b"),
          s"file ${f.path} spans partitions: a=${f.minBound.get("a")}..${f.maxBound.get("a")} " +
            s"b=${f.minBound.get("b")}..${f.maxBound.get("b")}")
        assert(f.partition.keySet == Set("a", "b"),
          s"file ${f.path} missing stamped tuple: ${f.partition}")
        assert(f.partition.get("a") == f.minBound.get("a") &&
          f.partition.get("b") == f.minBound.get("b"),
          s"stamped tuple disagrees with bounds for ${f.path}: ${f.partition}")
      }
      assert(spark.sql("SELECT COUNT(*) FROM tcFv.f.t").collect()(0).getLong(0) == 900)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("partition spec evolution: new writes cluster by the new spec, old files still read") {
    val wh = freshDir("spev")
    mkCatalog("tcSp", wh)
    spark.sql("CREATE NAMESPACE tcSp.s")
    spark.sql("CREATE TABLE tcSp.s.t (region STRING, id BIGINT, v STRING)")
    spark.sql("INSERT INTO tcSp.s.t SELECT CASE WHEN id < 50 THEN 'a' ELSE 'b' END, id, 'old' FROM range(100)")
    import org.apache.spark.sql.connector.catalog.Identifier
    val cata = spark.sessionState.catalogManager.catalog("tcSp")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    def tbl = cata.loadTable(Identifier.of(Array("s"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]
    val oldFiles = tbl.currentFiles.map(_.path).toSet
    assert(oldFiles.nonEmpty)

    graft.catalog.Maintenance.updateSpec(tbl, Seq("region" -> "identity"))
    assert(tbl.meta.spec.fields.map(f => (f.name, f.transform)) == List(("region", "identity")))

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try spark.sql("INSERT INTO tcSp.s.t SELECT CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END, id, 'new' FROM range(100, 200)")
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")

    // data untouched + fully readable across the spec change
    assert(spark.sql("SELECT COUNT(*) FROM tcSp.s.t").collect()(0).getLong(0) == 200)
    val snap = tbl.readSnapshot.get
    val snapFiles = tbl.ops.allFiles(snap)
    assert(oldFiles.subsetOf(snapFiles.map(_.path).toSet),
      "spec evolution must not rewrite existing files")
    // new files are partition-local under the NEW spec
    val newFiles = snapFiles.filterNot(f => oldFiles(f.path))
    assert(newFiles.size >= 2)
    newFiles.foreach(f => assert(
      f.minBound.get("region") == f.maxBound.get("region"),
      s"new file ${f.path} not clustered by the evolved spec"))
    // and partition pruning on the new column still answers correctly
    assert(spark.sql("SELECT COUNT(*) FROM tcSp.s.t WHERE region = 'a'")
      .collect()(0).getLong(0) == 100)
  }

  test("concurrent MOR deletes: parallel delta committers both land, no lost deletes") {
    val wh = freshDir("cdelta")
    mkCatalog("tcCd", wh)
    spark.sql("CREATE NAMESPACE tcCd.c")
    spark.sql(
      """CREATE TABLE tcCd.c.t (id BIGINT, v STRING)
        |TBLPROPERTIES ('write.delete.mode'='merge-on-read',
        |               'write.delete.granularity'='position')""".stripMargin)
    spark.sql("INSERT INTO tcCd.c.t SELECT id, 'x' FROM range(1000)")
    // two committers deleting DISJOINT row sets in parallel: OCC must
    // merge both delete-file additions (appends never conflict), so
    // neither delete is lost
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val f1 = Future { spark.sql("DELETE FROM tcCd.c.t WHERE id >= 0 AND id < 100") }
    val f2 = Future { spark.sql("DELETE FROM tcCd.c.t WHERE id >= 900") }
    Await.result(f1, 120.seconds); Await.result(f2, 120.seconds)
    assert(spark.sql("SELECT COUNT(*) FROM tcCd.c.t").collect()(0).getLong(0) == 800)
    assert(spark.sql("SELECT MIN(id), MAX(id) FROM tcCd.c.t").collect()(0).toSeq ==
      Seq(100L, 899L))
    import org.apache.spark.sql.connector.catalog.Identifier
    val cata = spark.sessionState.catalogManager.catalog("tcCd")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    val snap = cata.loadTable(Identifier.of(Array("c"), "t"))
      .asInstanceOf[graft.catalog.GraftTable].readSnapshot.get
    assert(snap.deleteFiles.size >= 2, "both delete commits must survive")
  }

  test("storage-partitioned join: co-partitioned tables join without a shuffle") {
    val wh = freshDir("spj")
    // isolated child session: SPJ needs global conf switches
    // (v2.bucketing, broadcast off) and sbt runs suites in PARALLEL on
    // the shared session — newSession() gets its own SQLConf
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.tcS", "graft.catalog.RelativeCatalog")
    s.conf.set("spark.sql.catalog.tcS.warehouse", wh)
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set(graft.catalog.SpjScan.PreserveGroupingKey, "true")
    s.sql("DROP NAMESPACE IF EXISTS tcS.s CASCADE")
    s.sql("CREATE NAMESPACE tcS.s")
    s.sql("CREATE TABLE tcS.s.fact (k INT, m BIGINT) PARTITIONED BY (k)")
    s.sql("CREATE TABLE tcS.s.dim (k INT, label STRING) PARTITIONED BY (k)")
    s.sql("INSERT INTO tcS.s.fact SELECT CAST(id % 8 AS INT), id FROM range(1000)")
    s.sql("INSERT INTO tcS.s.dim SELECT CAST(id AS INT), CONCAT('g', id) FROM range(8)")
    val joined = s.sql(
      """SELECT f.k, d.label, SUM(f.m) AS s
        |FROM tcS.s.fact f JOIN tcS.s.dim d ON f.k = d.k
        |GROUP BY f.k, d.label""".stripMargin)
    val rows = joined.collect()
    assert(rows.length == 8)
    assert(rows.map(_.getLong(2)).sum == (0L until 1000L).sum)
    // the join itself must be exchange-free: the ONLY shuffle in the
    // plan is the one feeding the final aggregation
    val plan = joined.queryExecution.executedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(joins.nonEmpty, s"expected a shuffled join in:\n$plan")
    val shufflesBelowJoin = joins.head.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shufflesBelowJoin.isEmpty,
      s"storage-partitioned join still shuffled:\n$plan")
  }

  test("incremental scan reads only the appended range; changelog diffs commits") {
    val wh = freshDir("inc")
    mkCatalog("tcI", wh)
    spark.sql("CREATE NAMESPACE tcI.i")
    spark.sql("CREATE TABLE tcI.i.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO tcI.i.t SELECT id, 'a' FROM range(0, 10)")     // seq 1
    spark.sql("INSERT INTO tcI.i.t SELECT id, 'b' FROM range(10, 25)")    // seq 2
    spark.sql("INSERT INTO tcI.i.t SELECT id, 'c' FROM range(25, 30)")    // seq 3

    // (1, current]: rows of seq 2+3 only
    val inc = spark.read.option("start-snapshot-id", "1").table("tcI.i.t")
    assert(inc.count() == 20)
    assert(inc.filter("v = 'a'").count() == 0)
    // explicit end bound
    val inc2 = spark.read.option("start-snapshot-id", "1")
      .option("end-snapshot-id", "2").table("tcI.i.t")
    assert(inc2.count() == 15)
    assert(inc2.filter("v = 'b'").count() == 15)

    // a row-level op inside the range has no append-only interpretation
    spark.sql("DELETE FROM tcI.i.t WHERE id < 5")                         // seq 4
    val e = intercept[Exception] {
      spark.read.option("start-snapshot-id", "2").table("tcI.i.t").count()
    }
    assert(e.getMessage.contains("append-only"))

    // changelog over the whole chain: seq2 +15, seq3 +5, seq4 -5
    val ch = spark.read.option("start-snapshot-id", "1").table("tcI.i.`t$changes`")
    assert(ch.filter("_change_type = 'insert'").count() == 20)
    assert(ch.filter("_change_type = 'delete'").count() == 5)
    assert(ch.filter("_change_type = 'delete' AND id < 5").count() == 5)

    // compaction is NOT a data change: its pair emits nothing
    import org.apache.spark.sql.connector.catalog.Identifier
    val cata = spark.sessionState.catalogManager.catalog("tcI")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    val tbl = cata.loadTable(Identifier.of(Array("i"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]
    graft.catalog.Maintenance.compact(spark, tbl, targetFiles = 1)        // seq 5
    val ch2 = spark.read.option("start-snapshot-id", "4").table("tcI.i.`t$changes`")
    assert(ch2.count() == 0, "compaction must emit no changelog rows")

    // MOR deletes flow through the state diff too
    spark.sql("ALTER TABLE tcI.i.t SET TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql("DELETE FROM tcI.i.t WHERE id >= 28")                       // seq 6+
    val ch3 = spark.read.option("start-snapshot-id", "5").table("tcI.i.`t$changes`")
      .filter("_change_type = 'delete'")
    assert(ch3.count() == 2)
    assert(ch3.filter("id >= 28").count() == 2)
  }

  test("time travel reads historic snapshots; metadata tables list them") {
    val wh = freshDir("tt")
    mkCatalog("tcT", wh)
    spark.sql("CREATE NAMESPACE tcT.t")
    spark.sql("CREATE TABLE tcT.t.t (id BIGINT)")
    spark.sql("INSERT INTO tcT.t.t SELECT id FROM range(10)")
    spark.sql("INSERT INTO tcT.t.t SELECT id FROM range(10, 30)")
    assert(spark.sql("SELECT COUNT(*) FROM tcT.t.t VERSION AS OF 1").collect()(0).getLong(0) == 10)
    assert(spark.sql("SELECT COUNT(*) FROM tcT.t.t").collect()(0).getLong(0) == 30)
    val snaps = spark.sql("SELECT sequence_number, operation, total_records FROM tcT.t.`t$snapshots` ORDER BY 1").collect()
    assert(snaps.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1L, "append", 10L), (2L, "append", 30L)))
    assert(spark.sql("SELECT COUNT(*) FROM tcT.t.`t$files`").collect()(0).getLong(0) >= 1)
    assert(spark.sql("SELECT COUNT(*) FROM tcT.t.`t$history`").collect()(0).getLong(0) == 2)
  }
}
