package graft

import graft.TestSpark.TableFiles
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.connector.catalog.Identifier
import org.scalatest.funsuite.AnyFunSuite

/** Atomic CTAS / RTAS through the StagingTableCatalog protocol
  * ([[graft.catalog.GraftStagedTable]]): single-commit publish,
  * nothing left behind on failure, REPLACE preserves identity and
  * history while fresh field ids prevent old-file resurrection.
  */
class StagedSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def setup(name: String): String = {
    val wh = s"/tmp/graft_test_$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set(s"spark.sql.catalog.$name", "graft.catalog.RelativeCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $name.s")
    wh
  }

  test("CTAS publishes table + data in ONE metadata version") {
    val wh = setup("tcSt1")
    spark.sql(
      "CREATE TABLE tcSt1.s.t AS SELECT id, id * 2.0 AS v FROM range(50)")
    assert(spark.sql("SELECT COUNT(*), SUM(id) FROM tcSt1.s.t").collect()(0)
      .toSeq == Seq(50L, (0L until 50L).sum))
    // v1 metadata already contains the snapshot; no v2 was committed
    assert(Files.exists(Paths.get(s"$wh/s/t/metadata/v1.metadata.json")))
    assert(!Files.exists(Paths.get(s"$wh/s/t/metadata/v2.metadata.json")))
  }

  test("failed CTAS leaves no table and no staged files") {
    setup("tcSt2")
    val boom = org.apache.spark.sql.functions.udf((id: Long) =>
      if (id >= 0) throw new RuntimeException("boom") else id)
    spark.udf.register("tcst2_boom", boom)
    intercept[Exception] {
      spark.sql("CREATE TABLE tcSt2.s.t AS SELECT tcst2_boom(id) AS id FROM range(10)")
    }
    val cat = spark.sessionState.catalogManager.catalog("tcSt2")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    assert(!cat.tableExists(Identifier.of(Array("s"), "t")))
    assert(!Files.exists(Paths.get("/tmp/graft_test_tcSt2/s/t/metadata")))
  }

  test("RTAS atomically swaps data AND schema, keeps uuid + history") {
    setup("tcSt3")
    spark.sql("CREATE TABLE tcSt3.s.t (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO tcSt3.s.t SELECT id, id * 1.0 FROM range(100)")
    val cat = spark.sessionState.catalogManager.catalog("tcSt3")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    def table = cat.loadTable(Identifier.of(Array("s"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]
    val uuidBefore = table.meta.tableUuid
    val snapsBefore = table.meta.snapshots.size

    spark.sql(
      "CREATE OR REPLACE TABLE tcSt3.s.t AS SELECT id AS k, CAST(id AS STRING) AS s FROM range(7)")

    val after = table
    assert(after.meta.tableUuid == uuidBefore)
    assert(after.meta.snapshots.size == snapsBefore + 1)
    assert(after.schema().fieldNames.toSeq == Seq("k", "s"))
    assert(spark.sql("SELECT COUNT(*) FROM tcSt3.s.t").collect()(0).getLong(0) == 7)
    // fresh field ids: the replaced schema starts past the old counter,
    // so old parquet (ids 1,2) can never alias the new columns
    assert(after.meta.schema.fields.map(_.id).min > 2)
    assert(after.meta.schemas.size == 2)
  }

  test("REPLACE of a missing table fails; OR REPLACE creates it") {
    setup("tcSt4")
    intercept[Exception] {
      spark.sql("REPLACE TABLE tcSt4.s.missing AS SELECT 1 AS x")
    }
    spark.sql("CREATE OR REPLACE TABLE tcSt4.s.fresh AS SELECT 1 AS x")
    assert(spark.sql("SELECT x FROM tcSt4.s.fresh").collect()(0).getInt(0) == 1)
  }

  test("DataFrameWriterV2: append / overwritePartitions / createOrReplace") {
    setup("tcSt9")
    import spark.implicits._
    spark.sql("CREATE TABLE tcSt9.s.t (k BIGINT, v STRING) PARTITIONED BY (k)")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").writeTo("tcSt9.s.t").append()
    assert(spark.sql("SELECT COUNT(*) FROM tcSt9.s.t").collect()(0).getLong(0) == 2)
    // overwritePartitions: dynamic — only k=1 replaced
    Seq((1L, "A2")).toDF("k", "v").writeTo("tcSt9.s.t").overwritePartitions()
    val rows = spark.sql("SELECT k, v FROM tcSt9.s.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "A2"), (2L, "b")), s"$rows")
    // createOrReplace: staged atomic RTAS through the writer API
    Seq((9L, 9L)).toDF("x", "y").writeTo("tcSt9.s.t").createOrReplace()
    assert(spark.table("tcSt9.s.t").columns.toSeq == Seq("x", "y"))
    assert(spark.sql("SELECT x + y FROM tcSt9.s.t").collect()(0).getLong(0) == 18)
  }

  test("plain CREATE OR REPLACE TABLE (no AS SELECT) resets to an empty new shape") {
    setup("tcSt7")
    spark.sql("CREATE TABLE tcSt7.s.t (id BIGINT)")
    spark.sql("INSERT INTO tcSt7.s.t SELECT id FROM range(9)")
    spark.sql("CREATE OR REPLACE TABLE tcSt7.s.t (k STRING, n INT)")
    assert(spark.table("tcSt7.s.t").columns.toSeq == Seq("k", "n"))
    assert(spark.sql("SELECT COUNT(*) FROM tcSt7.s.t").collect()(0).getLong(0) == 0)
    val cat = spark.sessionState.catalogManager.catalog("tcSt7")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    val tbl = cat.loadTable(Identifier.of(Array("s"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]
    // identity + history preserved; new writes land in the new shape
    assert(tbl.meta.snapshots.nonEmpty && tbl.meta.schemas.size == 2)
    spark.sql("INSERT INTO tcSt7.s.t VALUES ('a', 1)")
    assert(spark.sql("SELECT k, n FROM tcSt7.s.t").collect()(0).toSeq == Seq("a", 1))
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE deletes/updates unmatched targets") {
    setup("tcSt8")
    spark.sql("CREATE TABLE tcSt8.s.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO tcSt8.s.t SELECT id, 'old' FROM range(10)")
    spark.sql(
      """MERGE INTO tcSt8.s.t t USING (SELECT id FROM range(5, 8)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = 'hit'
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, 'new')
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val rows = spark.sql("SELECT id, v FROM tcSt8.s.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((5L, "hit"), (6L, "hit"), (7L, "hit")),
      s"unexpected: $rows")
  }

  test("time travel reads each snapshot under ITS schema, not the current one") {
    setup("tcSt6")
    spark.sql("CREATE TABLE tcSt6.s.t (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO tcSt6.s.t SELECT id, id * 1.5 FROM range(5)")
    // RTAS to a different shape
    spark.sql("CREATE OR REPLACE TABLE tcSt6.s.t AS SELECT CAST(id AS STRING) AS name FROM range(3)")
    val cat = spark.sessionState.catalogManager.catalog("tcSt6")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("s"), "t")).asInstanceOf[graft.catalog.GraftTable]
    val preReplace = tbl.meta.snapshots.minBy(_.sequenceNumber).snapshotId
    // current read: new schema only
    assert(spark.table("tcSt6.s.t").columns.toSeq == Seq("name"))
    // pinned read: the ORIGINAL schema and its values, not NULL-filled
    val old = spark.sql(s"SELECT * FROM tcSt6.s.t VERSION AS OF $preReplace")
    assert(old.columns.toSeq == Seq("id", "v"))
    assert(old.count() == 5)
    assert(old.where("v = 6.0").count() == 1)
  }

  test("RTAS with partitioning clusters the replacement by the new spec") {
    setup("tcSt5")
    spark.sql("CREATE TABLE tcSt5.s.t (id BIGINT)")
    spark.sql("INSERT INTO tcSt5.s.t SELECT id FROM range(10)")
    spark.sql(
      """CREATE OR REPLACE TABLE tcSt5.s.t PARTITIONED BY (bucket(4, id))
        |AS SELECT id, id % 3 AS g FROM range(40)""".stripMargin)
    val cat = spark.sessionState.catalogManager.catalog("tcSt5")
      .asInstanceOf[graft.catalog.RelativeCatalog]
    val table = cat.loadTable(Identifier.of(Array("s"), "t"))
      .asInstanceOf[graft.catalog.GraftTable]
    val files = table.currentFiles
    // fanout writer stamps one bucket tuple per file
    assert(files.nonEmpty)
    assert(files.forall(_.partition.keySet == Set("id_bucket")))
    assert(spark.sql("SELECT COUNT(*) FROM tcSt5.s.t").collect()(0).getLong(0) == 40)
  }
}
