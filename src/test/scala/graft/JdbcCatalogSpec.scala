package graft

import graft.catalog.CommitFailedException
import org.apache.spark.sql.connector.catalog.Identifier
import org.scalatest.funsuite.AnyFunSuite

/** JDBC-backed catalog (C18 + the JDBC-side C1–C9): bootstrap,
  * pointer-CAS commits, persisted namespace properties, guarded
  * rename, and relocation of the file side.
  */
class JdbcCatalogSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def fresh(tag: String): String = {
    val wh = s"/tmp/graft_test_jdbc_$tag"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set(s"spark.sql.catalog.j$tag", "graft.catalog.JdbcRelativeCatalog")
    spark.conf.set(s"spark.sql.catalog.j$tag.warehouse", wh)
    s"j$tag"
  }

  test("JDBC catalog over a file:// URI warehouse (pointer rows + Hadoop FS bytes)") {
    val local = "/tmp/graft_test_jdbc_uri"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(local))
    val db = "/tmp/graft_test_jdbc_uri_db"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(db))
    spark.conf.set("spark.sql.catalog.juri", "graft.catalog.JdbcRelativeCatalog")
    spark.conf.set("spark.sql.catalog.juri.warehouse", s"file://$local")
    // the derby default path derives from the warehouse string — give
    // an explicit uri when the warehouse is not a posix path
    spark.conf.set("spark.sql.catalog.juri.uri", s"jdbc:derby:$db;create=true")
    spark.sql("CREATE NAMESPACE juri.ns")
    spark.sql("CREATE TABLE juri.ns.t (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO juri.ns.t SELECT id, id * 0.5 FROM range(500)")
    assert(spark.sql("SELECT COUNT(*) FROM juri.ns.t").collect()(0).getLong(0) == 500)
    spark.sql("UPDATE juri.ns.t SET v = 0 WHERE id < 10")
    assert(spark.sql("SELECT SUM(v) FROM juri.ns.t WHERE id < 10")
      .collect()(0).getDouble(0) == 0.0)
    // metadata physically lives under the local dir, pointer in the DB
    assert(new java.io.File(s"$local/ns/t/metadata").listFiles()
      .exists(_.getName.endsWith(".metadata.json")))
  }

  test("metadata retention: old v<N>-<tag> files are reclaimed, never the pointer's") {
    val c = fresh("gc")
    val wh = "/tmp/graft_test_jdbc_gc"
    spark.sql(s"CREATE NAMESPACE $c.ns")
    spark.sql(s"CREATE TABLE $c.ns.t (id BIGINT)")
    spark.sql(s"INSERT INTO $c.ns.t VALUES (1), (2)")
    for (i <- 3 to 25)
      spark.sql(s"ALTER TABLE $c.ns.t SET TBLPROPERTIES ('audit.round'='$i')")
    val ops = spark.sessionState.catalogManager.catalog(c)
      .asInstanceOf[graft.catalog.JdbcRelativeCatalog]
      .loadTable(Identifier.of(Array("ns"), "t")).asInstanceOf[graft.catalog.GraftTable].ops
      .asInstanceOf[graft.catalog.JdbcRelativeCatalog#JdbcTableOps]
    val onDisk = new java.io.File(s"$wh/ns/t/metadata").listFiles().map(_.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".metadata.json"))
    assert(onDisk.length <= 10, s"${onDisk.length} metadata files kept: ${onDisk.sorted.mkString(", ")}")
    val pointed = ops.pointer.get
    assert(onDisk.contains(pointed.substring(pointed.lastIndexOf('/') + 1)),
      s"the pointer's file $pointed was reclaimed")
    assert(ops.refresh().get._1 == 25)
    assert(spark.sql(s"SELECT COUNT(*) FROM $c.ns.t").collect()(0).getLong(0) == 2)
  }

  test("DDL + DML round-trip with pointer rows as source of truth") {
    val c = fresh("rt")
    spark.sql(s"CREATE NAMESPACE $c.ns")
    spark.sql(s"CREATE TABLE $c.ns.t (id BIGINT, data STRING)")
    spark.sql(s"INSERT INTO $c.ns.t VALUES (1, 'Pizza'), (2, 'Pasta')")
    assert(spark.sql(s"SELECT COUNT(*) FROM $c.ns.t").collect()(0).getLong(0) == 2)
    assert(spark.sql(s"SHOW TABLES IN $c.ns").collect().map(_.getString(1)).contains("t"))
    spark.sql(s"INSERT INTO $c.ns.t VALUES (3, 'Sushi')")
    assert(spark.sql(s"SELECT COUNT(*) FROM $c.ns.t VERSION AS OF 1").collect()(0).getLong(0) == 2)
    assert(spark.sql(s"SELECT COUNT(*) FROM $c.ns.t").collect()(0).getLong(0) == 3)
  }

  test("CALL procedures work on the JDBC catalog (pointer-CAS commits)") {
    val c = fresh("proc")
    spark.sql(s"CREATE NAMESPACE $c.ns")
    spark.sql(s"CREATE TABLE $c.ns.t (id BIGINT)")
    spark.sql(s"INSERT INTO $c.ns.t SELECT id FROM range(10)")
    spark.sql(s"INSERT INTO $c.ns.t SELECT id FROM range(10, 30)")
    spark.sql(s"CALL $c.system.compact(tbl => 'ns.t')")
    val ex = spark.sql(s"CALL $c.system.expire_snapshots(tbl => 'ns.t', keep_last => 1)").collect()
    assert(ex(0).getInt(0) >= 0)
    assert(spark.sql(s"SELECT COUNT(*) FROM $c.ns.t").collect()(0).getLong(0) == 30)
  }

  test("snapshot / migrate / WAP publish land through the pointer CAS too") {
    val c = fresh("life")
    import spark.implicits._
    spark.sql(s"CREATE NAMESPACE $c.ns")
    spark.sql(s"CREATE TABLE $c.ns.t (id BIGINT) " +
      "TBLPROPERTIES ('write.wap.enabled'='true')")
    spark.sql(s"INSERT INTO $c.ns.t SELECT id FROM range(20)")

    // zero-copy snapshot: base-0 commit INSERTs a fresh pointer row
    spark.sql(s"CALL $c.system.snapshot(source_tbl => 'ns.t', tbl => 'ns.dev')")
    spark.sql(s"INSERT INTO $c.ns.dev VALUES (100)")
    assert(spark.sql(s"SELECT COUNT(*) FROM $c.ns.dev").collect()(0).getLong(0) == 21)
    assert(spark.sql(s"SELECT COUNT(*) FROM $c.ns.t").collect()(0).getLong(0) == 20)

    // WAP stage + publish: stage leaves the pointer in place, publish CASes it
    spark.conf.set("spark.wap.id", "jwap")
    try spark.sql(s"INSERT INTO $c.ns.t SELECT id FROM range(20, 25)")
    finally spark.conf.unset("spark.wap.id")
    assert(spark.sql(s"SELECT COUNT(*) FROM $c.ns.t").collect()(0).getLong(0) == 20)
    spark.sql(s"CALL $c.system.publish_changes(tbl => 'ns.t', wap_id => 'jwap')").collect()
    assert(spark.sql(s"SELECT COUNT(*) FROM $c.ns.t").collect()(0).getLong(0) == 25)

    // migrate: inferred-schema adoption registers via the same INSERT path
    (0L until 7L).toDF("id").coalesce(1)
      .write.parquet(s"/tmp/graft_test_jdbc_life/landing/raw")
    spark.sql(s"CALL $c.system.migrate(source_dir => 'landing/raw', tbl => 'ns.m')")
    assert(spark.sql(s"SELECT COUNT(*), SUM(id) FROM $c.ns.m").collect()(0)
      .toSeq == Seq(7L, 21L))
  }

  test("atomic CTAS/RTAS land through the pointer CAS") {
    val c = fresh("ctas")
    spark.sql(s"CREATE NAMESPACE $c.ns")
    spark.sql(s"CREATE TABLE $c.ns.t AS SELECT id, id * 3 AS v FROM range(20)")
    assert(spark.sql(s"SELECT SUM(v) FROM $c.ns.t").collect()(0).getLong(0) == (0L until 20L).map(_ * 3).sum)
    spark.sql(s"CREATE OR REPLACE TABLE $c.ns.t AS SELECT CAST(id AS STRING) AS s FROM range(4)")
    assert(spark.sql(s"SELECT COUNT(*) FROM $c.ns.t").collect()(0).getLong(0) == 4)
    assert(spark.table(s"$c.ns.t").columns.toSeq == Seq("s"))
  }

  test("namespace properties persist (the JDBC-only C5 capability)") {
    val c = fresh("props")
    spark.sql(s"CREATE NAMESPACE $c.p")
    spark.sql(s"ALTER NAMESPACE $c.p SET PROPERTIES ('team'='alice', 'tier'='gold')")
    val meta = spark.sql(s"DESCRIBE NAMESPACE EXTENDED $c.p").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(meta.nonEmpty)
    val cata = spark.sessionState.catalogManager.catalog(c)
      .asInstanceOf[graft.catalog.JdbcRelativeCatalog]
    assert(cata.loadNamespaceMetadata(Array("p")).get("team") == "alice")
    spark.sql(s"ALTER NAMESPACE $c.p UNSET PROPERTIES ('tier')")
    assert(!cata.loadNamespaceMetadata(Array("p")).containsKey("tier"))
  }

  test("concurrent commit: pointer CAS lets exactly one writer win") {
    val c = fresh("cas")
    spark.sql(s"CREATE NAMESPACE $c.c")
    spark.sql(s"CREATE TABLE $c.c.t (id BIGINT)")
    val cat = spark.sessionState.catalogManager.catalog(c)
      .asInstanceOf[graft.catalog.JdbcRelativeCatalog]
    val t = cat.loadTable(Identifier.of(Array("c"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]
    val (v, m) = t.ops.refresh().get
    t.ops.commit(v, m.copy(lastUpdatedMs = 1L))
    intercept[CommitFailedException] {
      t.ops.commit(v, m.copy(lastUpdatedMs = 2L))
    }
    assert(t.ops.refresh().get._1 == v + 1)
  }

  test("pooled connections: parallel writers all land, no JVM serialization point") {
    val c = fresh("pool")
    spark.sql(s"CREATE NAMESPACE $c.p")
    spark.sql(s"CREATE TABLE $c.p.t (id BIGINT, w INT)")
    // 8 threads × 3 appends each, all racing the pointer CAS; the OCC
    // retry loop must land every one of them (Derby decides contention,
    // not a single shared Connection)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(
        java.util.concurrent.Executors.newFixedThreadPool(8))
    val fs = (1 to 8).map { w =>
      Future {
        (1 to 3).foreach { i =>
          spark.sql(s"INSERT INTO $c.p.t VALUES (${w * 100 + i}, $w)")
        }
      }
    }
    Await.result(Future.sequence(fs), 120.seconds)
    assert(spark.sql(s"SELECT COUNT(*) FROM $c.p.t").collect()(0).getLong(0) == 24)
    assert(spark.sql(s"SELECT COUNT(DISTINCT id) FROM $c.p.t").collect()(0).getLong(0) == 24)
  }

  // Spark 4.1's CREATE VIEW DDL only routes to the session catalog, so
  // these tests drive the V2 ViewCatalog API directly (same approach
  // as q_cat_view for the path catalog).
  private def mkViewInfo(c: String, ident: Identifier, sql: String) = {
    new org.apache.spark.sql.connector.catalog.ViewInfo(ident, sql, c,
      ident.namespace(), spark.sql(sql).schema,
      spark.sql(sql).schema.fieldNames, Array.empty[String],
      Array.empty[String], new java.util.HashMap[String, String]())
  }

  test("renameView into a missing namespace throws NoSuchNamespaceException and changes nothing, in both catalogs") {
    import scala.jdk.CollectionConverters._
    for (jdbc <- Seq(false, true)) {
      val c = if (jdbc) "jvrn" else "hvrn"
      val wh = s"/tmp/graft_test_$c"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
      spark.conf.set(s"spark.sql.catalog.$c",
        if (jdbc) "graft.catalog.JdbcRelativeCatalog" else "graft.catalog.RelativeCatalog")
      spark.conf.set(s"spark.sql.catalog.$c.warehouse", wh)
      if (jdbc) spark.conf.set(s"spark.sql.catalog.$c.schema-version", "V1")
      spark.sql(s"CREATE NAMESPACE $c.v")
      val cata = spark.sessionState.catalogManager.catalog(c).asInstanceOf[
        org.apache.spark.sql.connector.catalog.ViewCatalog with
          org.apache.spark.sql.connector.catalog.SupportsNamespaces]
      val src = Identifier.of(Array("v"), "src")
      cata.createView(mkViewInfo(c, src, "SELECT 1 AS one"))
      def viewFiles = org.apache.commons.io.FileUtils.listFiles(new java.io.File(wh), null, true)
        .asScala.map(_.getPath).filter(_.endsWith(".view.json")).toSet
      val before = viewFiles
      intercept[org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException] {
        cata.renameView(src, Identifier.of(Array("nope"), "dst"))
      }
      assert(cata.loadView(src).query() == "SELECT 1 AS one", c)
      assert(!cata.namespaceExists(Array("nope")), c)
      assert(viewFiles == before, c)
    }
  }

  test("V1 store: view CRUD as catalog rows (create/select/alter/rename/drop)") {
    val wh = s"/tmp/graft_test_jdbc_views"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.jviews", "graft.catalog.JdbcRelativeCatalog")
    spark.conf.set("spark.sql.catalog.jviews.warehouse", wh)
    spark.conf.set("spark.sql.catalog.jviews.schema-version", "V1")
    spark.sql("CREATE NAMESPACE jviews.v")
    spark.sql("CREATE TABLE jviews.v.t (id BIGINT, data STRING)")
    spark.sql("INSERT INTO jviews.v.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val cata = spark.sessionState.catalogManager.catalog("jviews")
      .asInstanceOf[graft.catalog.JdbcRelativeCatalog]
    val big = Identifier.of(Array("v"), "big")
    cata.createView(mkViewInfo("jviews", big,
      "SELECT id, data FROM jviews.v.t WHERE id > 1"))
    assert(spark.sql(cata.loadView(big).query()).count() == 2)
    // the view is a catalog ROW, not a table row: table listing
    // excludes it, view listing contains it
    assert(!spark.sql("SHOW TABLES IN jviews.v").collect().map(_.getString(1)).contains("big"))
    assert(cata.listViews("v").map(_.name()).toSeq == Seq("big"))
    assert(!cata.tableExists(big))
    // name clash both ways (ref ViewAwareTableBuilder)
    intercept[Exception] {
      spark.sql("CREATE TABLE jviews.v.big (x INT)")
    }
    intercept[Exception] {
      cata.createView(mkViewInfo("jviews", Identifier.of(Array("v"), "t"),
        "SELECT 1 AS one"))
    }
    // property round-trip through alterView's pointer CAS
    import org.apache.spark.sql.connector.catalog.ViewChange
    cata.alterView(big, ViewChange.setProperty("note", "kept"))
    assert(cata.loadView(big).properties().get("note") == "kept")
    // rename moves the row; old name gone, new name queryable
    val big2 = Identifier.of(Array("v"), "big2")
    cata.renameView(big, big2)
    assert(spark.sql(cata.loadView(big2).query()).count() == 2)
    assert(!cata.viewExists(big))
    assert(cata.dropView(big2))
    assert(!cata.dropView(big2))
    // no stray .view.json files after drop (every CAS loser cleans up)
    assert(!org.apache.commons.io.FileUtils.listFiles(
      new java.io.File(wh), Array("json"), true)
      .toString.contains(".view.json"))

    // replaceView: one pointer-CAS swap — definition changes, the old
    // definition file is gone, exactly one view file remains (no
    // drop/create gap, no orphan)
    val rv = Identifier.of(Array("v"), "rv")
    cata.createView(mkViewInfo("jviews", rv, "SELECT 1 AS a"))
    cata.replaceView(mkViewInfo("jviews", rv, "SELECT 2 AS b"))
    assert(cata.loadView(rv).query() == "SELECT 2 AS b")
    val viewFiles = org.apache.commons.io.FileUtils.listFiles(
      new java.io.File(wh), Array("json"), true).toArray
      .map(_.toString).filter(_.contains(".view.json"))
    assert(viewFiles.length == 1, viewFiles.mkString(","))
    // replace-of-absent creates (the OR REPLACE on a fresh name path)
    val rv2 = Identifier.of(Array("v"), "rv2")
    cata.replaceView(mkViewInfo("jviews", rv2, "SELECT 3 AS c"))
    assert(cata.loadView(rv2).query() == "SELECT 3 AS c")
    assert(cata.dropView(rv) && cata.dropView(rv2))
    // ...but never into a namespace that doesn't exist (same guard as
    // createView — a replace racing a namespace drop must not insert
    // an orphan VIEW row)
    intercept[org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException] {
      cata.replaceView(mkViewInfo("jviews",
        Identifier.of(Array("no_such_ns"), "rv3"), "SELECT 4 AS d"))
    }
  }

  test("V0 store refuses views; re-init with schema-version=V1 migrates in place") {
    val wh = s"/tmp/graft_test_jdbc_migr"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    // phase 1: plain V0 catalog — tables work, views refuse with a
    // pointer to the migration switch
    spark.conf.set("spark.sql.catalog.jmig0", "graft.catalog.JdbcRelativeCatalog")
    spark.conf.set("spark.sql.catalog.jmig0.warehouse", wh)
    spark.sql("CREATE NAMESPACE jmig0.m")
    spark.sql("CREATE TABLE jmig0.m.t (id BIGINT)")
    spark.sql("INSERT INTO jmig0.m.t VALUES (7), (8)")
    val cat0 = spark.sessionState.catalogManager.catalog("jmig0")
      .asInstanceOf[graft.catalog.JdbcRelativeCatalog]
    val v = Identifier.of(Array("m"), "v")
    val e = intercept[UnsupportedOperationException] {
      cat0.createView(mkViewInfo("jmig0", v, "SELECT id FROM jmig0.m.t"))
    }
    assert(e.getMessage.contains("schema-version=V1"))
    assert(!cat0.viewExists(v))
    // phase 2: re-initialize the SAME catalog name over the same Derby
    // store with the option flipped — the probe adds record_type in
    // place; pre-migration rows (NULL record_type) still read as tables
    import scala.jdk.CollectionConverters._
    def reinit(opts: Map[String, String]): graft.catalog.JdbcRelativeCatalog = {
      val c = new graft.catalog.JdbcRelativeCatalog
      c.initialize("jmig0",
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts.asJava))
      c
    }
    val cat1 = reinit(Map("warehouse" -> wh, "schema-version" -> "V1"))
    assert(cat1.tableExists(Identifier.of(Array("m"), "t")))
    // data still readable through the original (V0-era) binding
    assert(spark.sql("SELECT SUM(id) FROM jmig0.m.t").collect()(0).getLong(0) == 15)
    cat1.createView(mkViewInfo("jmig0", v,
      "SELECT id FROM jmig0.m.t WHERE id >= 8"))
    assert(spark.sql(cat1.loadView(v).query()).count() == 1)
    // phase 3: a third init WITHOUT the option still sees V1 (the
    // store's column wins over the default), so the view stays usable
    val cat2 = reinit(Map("warehouse" -> wh))
    assert(cat2.listViews("m").map(_.name()).toSeq == Seq("v"))
    assert(spark.sql(cat2.loadView(v).query()).count() == 1)
    // and the V1-aware listing still shows exactly the one table
    assert(cat2.listTables(Array("m")).map(_.name()).toSeq == Seq("t"))
  }

  test("guarded rename; duplicate target rejected") {
    val c = fresh("ren")
    spark.sql(s"CREATE NAMESPACE $c.r")
    spark.sql(s"CREATE TABLE $c.r.a (id BIGINT)")
    spark.sql(s"INSERT INTO $c.r.a VALUES (9)")
    spark.sql(s"CREATE TABLE $c.r.b (id BIGINT)")
    intercept[Exception] { spark.sql(s"ALTER TABLE $c.r.a RENAME TO $c.r.b") }
    spark.sql(s"ALTER TABLE $c.r.a RENAME TO $c.r.a2")
    assert(spark.sql(s"SELECT id FROM $c.r.a2").collect()(0).getLong(0) == 9)
    assert(!spark.sql(s"SHOW TABLES IN $c.r").collect().map(_.getString(1)).contains("a"))
  }

  test("rename of a manifest-LIST-spilled table re-roots the list under the new prefix") {
    val c = fresh("renls")
    val wh = s"/tmp/graft_test_jdbc_renls"
    spark.sql(s"CREATE NAMESPACE $c.r")
    // chunk size 1 + 40 files → 40 full-chunk stamps, so the
    // committed metadata carries a manifestList
    spark.sql(s"CREATE TABLE $c.r.big (id BIGINT) " +
      "TBLPROPERTIES ('write.metadata.manifest-chunk-size'='1')")
    spark.sql(s"INSERT INTO $c.r.big SELECT id FROM range(0, 40, 1, 40)")
    // the JDBC catalog names metadata files v<N>-<uuid> with the DB
    // row as pointer — read the raw JSON of the file the pointer names
    def pointed(t: String): String = {
      val ops = spark.sessionState.catalogManager.catalog(c)
        .asInstanceOf[graft.catalog.JdbcRelativeCatalog]
        .loadTable(Identifier.of(Array("r"), t)).asInstanceOf[graft.catalog.GraftTable].ops
      graft.meta.RelPaths.absolutize(wh,
        ops.asInstanceOf[graft.catalog.JdbcRelativeCatalog#JdbcTableOps].pointer.get)
    }
    def rawMeta(t: String): graft.meta.TableMeta =
      graft.meta.TableMeta.fromJson(graft.catalog.Io.readString(pointed(t)))
    val raw0 = rawMeta("big")
    assert(raw0.currentSnapshot.get.manifestList.exists(_.startsWith("r/big/")),
      s"fixture must be list-spilled, got ${raw0.currentSnapshot.get.manifestList}")

    spark.sql(s"ALTER TABLE $c.r.big RENAME TO $c.r.big2")
    // the moved table reads whole through the re-rooted list
    graft.catalog.ChunkCache.invalidateAll()
    graft.catalog.ManifestListCache.invalidateAll()
    assert(spark.sql(s"SELECT COUNT(*), SUM(id) FROM $c.r.big2").collect()(0) ==
      org.apache.spark.sql.Row(40L, (0L until 40L).sum))
    val raw = rawMeta("big2")
    val lp = raw.currentSnapshot.get.manifestList
    assert(lp.exists(_.startsWith("r/big2/metadata/manifest-list-")),
      s"list pointer still carries the old prefix: $lp")
    // and the re-derived list's stamps point at the moved chunks
    // (materialize through a plain TableOps parse of the file the
    // renamed table's pointer names)
    val ops = new graft.catalog.TableOps(wh, "r/big2")
    val parsed = ops.parseMeta(graft.catalog.Io.readString(pointed("big2")))
    val snap = parsed.currentSnapshot.get
    assert(snap.manifests.size == 40 && snap.manifests.forall(_.path.startsWith("r/big2/")))
    assert(ops.allFiles(snap).forall(_.path.startsWith("r/big2/")))
  }
}
