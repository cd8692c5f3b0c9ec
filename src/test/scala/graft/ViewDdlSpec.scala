package graft

import org.apache.spark.sql.catalyst.analysis.{NoSuchViewException, ViewAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.Identifier
import org.scalatest.funsuite.AnyFunSuite

/** SQL view DDL routed to the V2 ViewCatalog by GraftExtensions —
  * Spark 4.1's own analyzer throws MISSING_CATALOG_ABILITY.VIEWS for
  * every one of these statements (ref JdbcRelativeCatalog.java:476-547
  * treats them as first-class catalog ops). */
class ViewDdlSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = TestSpark.spark
    val wh = "/tmp/graft_test_vddl"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    s.conf.set("spark.sql.catalog.tcVD", "graft.catalog.RelativeCatalog")
    s.conf.set("spark.sql.catalog.tcVD.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS tcVD.v")
    s.sql("CREATE TABLE IF NOT EXISTS tcVD.v.base (id BIGINT, grp STRING)")
    s.sql("INSERT INTO tcVD.v.base SELECT id, CAST(id % 3 AS STRING) FROM range(0, 30)")
    s
  }

  private def cat = spark.sessionState.catalogManager.catalog("tcVD")
    .asInstanceOf[graft.catalog.RelativeCatalog]

  test("CREATE VIEW ... AS SELECT persists through the V2 catalog and SELECT reads it back") {
    spark.sql("CREATE VIEW tcVD.v.grp_counts AS " +
      "SELECT grp, count(*) AS n FROM tcVD.v.base GROUP BY grp")
    // persisted via the catalog API, not the session catalog
    assert(cat.viewExists(Identifier.of(Array("v"), "grp_counts")))
    val rows = spark.sql("SELECT * FROM tcVD.v.grp_counts ORDER BY grp")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("0", 10L), ("1", 10L), ("2", 10L)))
    // the view is live: new base rows show up on the next read
    spark.sql("INSERT INTO tcVD.v.base VALUES (100, '0')")
    assert(spark.sql("SELECT n FROM tcVD.v.grp_counts WHERE grp = '0'")
      .collect().head.getLong(0) == 11L)
    // spark.table() resolves through the same path
    assert(spark.table("tcVD.v.grp_counts").count() == 3L)
  }

  test("column aliases, IF NOT EXISTS, OR REPLACE, duplicate-create error") {
    spark.sql("CREATE VIEW tcVD.v.aliased (k, total) AS " +
      "SELECT grp, sum(id) FROM tcVD.v.base GROUP BY grp")
    val df = spark.sql("SELECT k, total FROM tcVD.v.aliased ORDER BY k")
    assert(df.columns.toSeq == Seq("k", "total") && df.count() == 3)
    intercept[ViewAlreadyExistsException] {
      spark.sql("CREATE VIEW tcVD.v.aliased AS SELECT 1 AS x")
    }
    // IF NOT EXISTS: silent no-op, definition unchanged
    spark.sql("CREATE VIEW IF NOT EXISTS tcVD.v.aliased AS SELECT 1 AS x")
    assert(spark.table("tcVD.v.aliased").columns.toSeq == Seq("k", "total"))
    // OR REPLACE swaps the definition
    spark.sql("CREATE OR REPLACE VIEW tcVD.v.aliased AS SELECT 42 AS answer")
    assert(spark.sql("SELECT answer FROM tcVD.v.aliased").collect().head.getInt(0) == 42)
  }

  test("SHOW VIEWS lists with pattern; DROP VIEW removes; IF EXISTS tolerated") {
    spark.sql("CREATE OR REPLACE VIEW tcVD.v.sv_one AS SELECT 1 AS x")
    spark.sql("CREATE OR REPLACE VIEW tcVD.v.sv_two AS SELECT 2 AS x")
    val all = spark.sql("SHOW VIEWS IN tcVD.v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    assert(all.exists(_._2 == "sv_one") && all.exists(_._2 == "sv_two"))
    assert(all.forall(t => t._1 == "v" && !t._3))
    val filtered = spark.sql("SHOW VIEWS IN tcVD.v LIKE 'sv_*'").collect().map(_.getString(1))
    assert(filtered.toSet == Set("sv_one", "sv_two"))
    spark.sql("DROP VIEW tcVD.v.sv_one")
    assert(!cat.viewExists(Identifier.of(Array("v"), "sv_one")))
    intercept[NoSuchViewException] { spark.sql("DROP VIEW tcVD.v.sv_one") }
    spark.sql("DROP VIEW IF EXISTS tcVD.v.sv_one") // no throw
  }

  test("views nest: a view over a view resolves transitively") {
    spark.sql("CREATE OR REPLACE VIEW tcVD.v.lvl1 AS " +
      "SELECT id FROM tcVD.v.base WHERE id < 10")
    spark.sql("CREATE OR REPLACE VIEW tcVD.v.lvl2 AS " +
      "SELECT count(*) AS n FROM tcVD.v.lvl1")
    assert(spark.sql("SELECT n FROM tcVD.v.lvl2").collect().head.getLong(0) == 10L)
  }

  test("session-catalog DDL is untouched by the routing") {
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW plain_tmp AS SELECT 7 AS x")
    assert(spark.sql("SELECT x FROM plain_tmp").collect().head.getInt(0) == 7)
    spark.sql("DROP VIEW plain_tmp")
  }

  test("ALTER VIEW: SET/UNSET TBLPROPERTIES, AS <query>, RENAME TO all route to the V2 catalog") {
    spark.sql("CREATE OR REPLACE VIEW tcVD.v.av AS SELECT 1 AS x")
    spark.sql("ALTER VIEW tcVD.v.av SET TBLPROPERTIES ('team' = 'graft', 'tier' = 'gold')")
    def props = cat.loadView(Identifier.of(Array("v"), "av")).properties()
    assert(props.get("team") == "graft" && props.get("tier") == "gold")
    spark.sql("ALTER VIEW tcVD.v.av UNSET TBLPROPERTIES ('tier')")
    assert(props.get("team") == "graft" && !props.containsKey("tier"))
    // AS <query>: definition swaps, schema re-derives, properties survive
    spark.sql("ALTER VIEW tcVD.v.av AS SELECT grp, count(*) AS n FROM tcVD.v.base GROUP BY grp")
    assert(spark.table("tcVD.v.av").columns.toSeq == Seq("grp", "n"))
    assert(props.get("team") == "graft")
    // RENAME TO: old name gone, new name reads, clash guarded
    spark.sql("ALTER VIEW tcVD.v.av RENAME TO v.av2")
    assert(!cat.viewExists(Identifier.of(Array("v"), "av")))
    assert(spark.table("tcVD.v.av2").count() >= 3)
    intercept[NoSuchViewException] {
      spark.sql("ALTER VIEW tcVD.v.av SET TBLPROPERTIES ('a' = 'b')")
    }
    spark.sql("DROP VIEW tcVD.v.av2")
  }

  test("DESCRIBE / SHOW CREATE TABLE / SHOW TBLPROPERTIES work on V2 views; tables keep native paths") {
    spark.sql("CREATE OR REPLACE VIEW tcVD.v.dsc AS " +
      "SELECT id, id * 2 AS dbl FROM tcVD.v.base")
    spark.sql("ALTER VIEW tcVD.v.dsc SET TBLPROPERTIES ('team' = 'graft')")
    val desc = spark.sql("DESCRIBE tcVD.v.dsc").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(desc.toSeq == Seq(("id", "bigint"), ("dbl", "bigint")), desc.mkString(","))
    val ext = spark.sql("DESCRIBE EXTENDED tcVD.v.dsc").collect().map(_.getString(0))
    assert(ext.contains("View Text") && ext.contains("# Detailed View Information"))
    val ddl = spark.sql("SHOW CREATE TABLE tcVD.v.dsc").collect().head.getString(0)
    assert(ddl.startsWith("CREATE VIEW tcVD.v.dsc") && ddl.contains("id * 2 AS dbl"), ddl)
    assert(ddl.contains("'team' = 'graft'"), ddl)
    val props = spark.sql("SHOW TBLPROPERTIES tcVD.v.dsc").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(props.get("team").contains("graft"))
    assert(spark.sql("SHOW TBLPROPERTIES tcVD.v.dsc ('team')").collect()
      .map(_.getString(1)).toSeq == Seq("graft"))
    // a TABLE's DESCRIBE still resolves through the native V2 path
    assert(spark.sql("DESCRIBE tcVD.v.base").collect()
      .map(_.getString(0)).toSeq == Seq("id", "grp"))
    spark.sql("DROP VIEW tcVD.v.dsc")
  }

  /** A JDBC catalog over a V1 store, with the same `v.base` table. */
  private lazy val jdbcCatalog = {
    val wh = "/tmp/graft_test_vddl_jdbc"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set("spark.sql.catalog.tcVDj", "graft.catalog.JdbcRelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcVDj.warehouse", wh)
    spark.conf.set("spark.sql.catalog.tcVDj.schema-version", "V1")
    spark.sql("CREATE NAMESPACE tcVDj.v")
    spark.sql("CREATE TABLE tcVDj.v.base (id BIGINT, grp STRING)")
    spark.sql("INSERT INTO tcVDj.v.base SELECT id, CAST(id % 3 AS STRING) FROM range(0, 30)")
    "tcVDj"
  }

  test("analyzer does not re-probe the filesystem for a known non-view relation") {
    for (c <- Seq("tcVD", jdbcCatalog)) {
      val cat = spark.sessionState.catalogManager.catalog(c)
        .asInstanceOf[graft.catalog.RelativeCatalog]
      // first analysis may miss once (negative cached); every subsequent
      // analysis of the same table reference must issue ZERO probes —
      // on an object-store warehouse each miss is a HEAD request, paid
      // per relation per micro-batch by streaming re-analysis
      spark.sql(s"SELECT * FROM $c.v.base WHERE id < 3").collect()
      val before = cat.viewProbeMisses.get()
      (1 to 5).foreach { _ =>
        spark.sql(s"SELECT * FROM $c.v.base WHERE id < 3").queryExecution.analyzed
      }
      assert(cat.viewProbeMisses.get() == before,
        s"$c: repeated analysis of a non-view relation re-probed the store")
      // and a view created AFTER a cached negative through this catalog
      // instance is still immediately visible (create invalidates)
      spark.sql("SELECT 1").collect()
      intercept[Exception] { spark.table(s"$c.v.later_view") }
      spark.sql(s"CREATE VIEW $c.v.later_view AS SELECT 5 AS x")
      assert(spark.sql(s"SELECT x FROM $c.v.later_view").collect().head.getInt(0) == 5)
    }
  }
}
