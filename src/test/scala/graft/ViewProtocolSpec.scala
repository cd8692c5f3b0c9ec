package graft

import graft.catalog.{CommitFailedException, Io, RelativeCatalog, ViewDef}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import org.apache.spark.sql.catalyst.analysis.{NoSuchViewException, TableAlreadyExistsException, ViewAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, ViewChange, ViewInfo}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** The one view protocol, run once per catalog: the path catalog and
  * the JDBC catalog over a V1 store. Both share the name guard, the
  * property fold and the rename order; each keeps only its view commit
  * point (a locked file move, or a pointer-row CAS).
  */
class ViewProtocolSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val kinds = Seq(
    "path" -> ("vpPath", "graft.catalog.RelativeCatalog"),
    "jdbc" -> ("vpJdbc", "graft.catalog.JdbcRelativeCatalog"))

  private val registered = scala.collection.mutable.Set.empty[String]

  /** Catalog `c` over a fresh warehouse (once per run), with namespace `v`. */
  private def catalog(c: String, cls: String): (RelativeCatalog, String) = {
    val wh = s"/tmp/graft_test_$c"
    if (registered.add(c)) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
      spark.conf.set(s"spark.sql.catalog.$c", cls)
      spark.conf.set(s"spark.sql.catalog.$c.warehouse", wh)
      spark.conf.set(s"spark.sql.catalog.$c.schema-version", "V1")
      spark.sql(s"CREATE NAMESPACE $c.v")
    }
    (spark.sessionState.catalogManager.catalog(c).asInstanceOf[RelativeCatalog], wh)
  }

  private val schemaX = StructType(Seq(StructField("x", IntegerType)))

  private def info(c: String, ident: Identifier, sql: String) =
    new ViewInfo(ident, sql, c, ident.namespace(), schemaX, Array("x"),
      Array.empty[String], Array.empty[String], new java.util.HashMap[String, String]())

  private def v(name: String) = Identifier.of(Array("v"), name)

  /** Run `f(i)` for i in 0 until 8 on eight threads released together. */
  private def race[A](f: Int => A): Seq[Try[A]] = {
    val pool = Executors.newFixedThreadPool(8)
    val start = new CyclicBarrier(8)
    try {
      val futures = (0 until 8).map(i => pool.submit(() => { start.await(); Try(f(i)) }))
      futures.map(_.get(120, TimeUnit.SECONDS))
    } finally { pool.shutdown(); pool.awaitTermination(60, TimeUnit.SECONDS): Unit }
  }

  private def causes(t: Throwable): List[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toList

  for ((kind, (c, cls)) <- kinds) {

    test(s"$kind: CREATE TABLE, CTAS and snapshotTable onto a view's name throw TableAlreadyExistsException") {
      val (cat, _) = catalog(c, cls)
      spark.sql(s"CREATE TABLE $c.v.src (id BIGINT)")
      spark.sql(s"INSERT INTO $c.v.src VALUES (1), (2)")
      cat.createView(info(c, v("held"), "SELECT 1 AS x"))
      intercept[TableAlreadyExistsException](spark.sql(s"CREATE TABLE $c.v.held (id BIGINT)"))
      intercept[TableAlreadyExistsException](spark.sql(s"CREATE TABLE $c.v.held AS SELECT 1 AS id"))
      intercept[TableAlreadyExistsException](cat.snapshotTable(v("src"), v("held")))
      assert(!cat.tableExists(v("held")))
      assert(cat.loadView(v("held")).query() == "SELECT 1 AS x")
      // the other direction: a table holds the name
      intercept[TableAlreadyExistsException](cat.createView(info(c, v("src"), "SELECT 2 AS x")))
      assert(!cat.viewExists(v("src")))
      assert(spark.sql(s"SELECT COUNT(*) FROM $c.v.src").collect()(0).getLong(0) == 2)
    }

    test(s"$kind: eight concurrent createView calls on one name: exactly one returns") {
      val (cat, _) = catalog(c, cls)
      val outcomes = race(i => cat.createView(info(c, v("race"), s"SELECT $i AS x")))
      val winners = outcomes.zipWithIndex.collect { case (Success(_), i) => i }
      assert(winners.size == 1, outcomes.mkString(", "))
      outcomes.collect { case Failure(e) => e }.foreach(e =>
        assert(e.isInstanceOf[ViewAlreadyExistsException] || e.isInstanceOf[CommitFailedException], e))
      cat.invalidateViewCache()
      assert(cat.loadView(v("race")).query() == s"SELECT ${winners.head} AS x")
      assert(cat.listViews("v").count(_.name() == "race") == 1)
    }

    test(s"$kind: eight concurrent alterView property sets keep exactly the returned ones") {
      val (cat, _) = catalog(c, cls)
      cat.createView(info(c, v("props"), "SELECT 1 AS x"))
      val outcomes = race(i => cat.alterView(v("props"), ViewChange.setProperty(s"p$i", "set")))
      val returned = outcomes.zipWithIndex.collect { case (Success(_), i) => s"p$i" }.toSet
      assert(returned.nonEmpty)
      // a lost race fails as a commit conflict — never a torn read
      outcomes.collect { case Failure(e) => e }.foreach(e =>
        assert(e.isInstanceOf[CommitFailedException], causes(e).mkString(" <- ")))
      val kept = cat.loadView(v("props")).properties().asScala.keySet.filter(_.startsWith("p"))
      assert(kept == returned, s"kept $kept, returned $returned")
    }

    test(s"$kind: alterView and renameView of a missing view throw NoSuchViewException") {
      val (cat, _) = catalog(c, cls)
      intercept[NoSuchViewException](cat.alterView(v("absent"), ViewChange.setProperty("a", "b")))
      intercept[NoSuchViewException](cat.renameView(v("absent"), v("absent2")))
      assert(!cat.viewExists(v("absent")) && !cat.viewExists(v("absent2")))
    }

    test(s"$kind: a view in the existing on-disk layout loads, alters and drops") {
      val (cat, wh) = catalog(c, cls)
      val json =
        """{
          |  "name" : "legacy",
          |  "sql" : "SELECT 7 AS x",
          |  "currentCatalog" : "CAT",
          |  "currentNamespace" : [ "v" ],
          |  "schemaJson" : "{\"type\":\"struct\",\"fields\":[{\"name\":\"x\",\"type\":\"integer\",\"nullable\":true,\"metadata\":{}}]}",
          |  "queryColumnNames" : [ "x" ],
          |  "columnAliases" : [ ],
          |  "columnComments" : [ ],
          |  "properties" : {
          |    "owner" : "ops"
          |  }
          |}""".stripMargin.replace("CAT", c)
      assert(ViewDef.fromJson(json).sql == "SELECT 7 AS x")
      val file = kind match {
        case "path" => s"$wh/v/legacy.view.json"
        case _ => s"$wh/v/legacy-0a1b2c3d.view.json"
      }
      Io.writeString(file, json)
      if (kind == "jdbc") {
        val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$wh/.jdbc-catalog")
        try {
          val ps = conn.prepareStatement(
            "INSERT INTO graft_tables (catalog_name, table_namespace, table_name, metadata_location, previous_metadata_location, record_type) VALUES (?,?,?,?,NULL,'VIEW')")
          Seq(c, "v", "legacy", "v/legacy-0a1b2c3d.view.json").zipWithIndex
            .foreach { case (a, i) => ps.setString(i + 1, a) }
          assert(ps.executeUpdate() == 1)
          ps.close()
        } finally conn.close()
      }
      cat.invalidateViewCache()
      assert(cat.viewExists(v("legacy")))
      assert(cat.listViews("v").map(_.name()).contains("legacy"))
      assert(spark.sql(s"SELECT x FROM $c.v.legacy").collect()(0).getInt(0) == 7)
      cat.alterView(v("legacy"), ViewChange.setProperty("tier", "gold"))
      val props = cat.loadView(v("legacy")).properties().asScala
      assert(props == Map("owner" -> "ops", "tier" -> "gold"), props)
      // the path layout keeps its one file; the JDBC layout moves to a fresh one
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(file)) == (kind == "path"))
      assert(cat.dropView(v("legacy")))
      assert(!cat.viewExists(v("legacy")))
    }

    test(s"$kind: DROP NAMESPACE without CASCADE succeeds once its only view is dropped") {
      catalog(c, cls)
      spark.sql(s"CREATE NAMESPACE $c.nsv")
      spark.sql(s"CREATE VIEW $c.nsv.one AS SELECT 1 AS x")
      spark.sql(s"ALTER VIEW $c.nsv.one SET TBLPROPERTIES ('k' = 'v')")
      spark.sql(s"CREATE OR REPLACE VIEW $c.nsv.one AS SELECT 2 AS x")
      assert(spark.sql(s"SHOW VIEWS IN $c.nsv").collect().map(_.getString(1)).toSeq == Seq("one"))
      spark.sql(s"DROP VIEW $c.nsv.one")
      assert(spark.sql(s"SHOW VIEWS IN $c.nsv").collect().isEmpty)
      spark.sql(s"DROP NAMESPACE $c.nsv")
      assert(!spark.sessionState.catalogManager.catalog(c).asInstanceOf[RelativeCatalog]
        .namespaceExists(Array("nsv")))
    }
  }
}
