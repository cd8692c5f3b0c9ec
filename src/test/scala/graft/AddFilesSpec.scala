package graft

import graft.TestSpark.TableFiles
import graft.catalog.{Maintenance, MergeOnReadScan}
import org.apache.spark.sql.Row
import org.apache.spark.sql.connector.catalog.Identifier
import org.scalatest.funsuite.AnyFunSuite

/** `add_files` (zero-copy parquet import via footers + name mapping),
  * `register_table` (catalog-DB disaster recovery), and the history
  * procedures (`rollback_to_timestamp`, `ancestors_of`) — the guard
  * rails and schema-evolution interactions the DuckDB oracles in
  * CatalogOps can't reach.
  */
class AddFilesSpec extends AnyFunSuite {

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

  test("add_files survives a post-import RENAME (frozen name mapping) and a post-import ADD COLUMN") {
    val wh = freshWh("tcAf")
    import spark.implicits._
    spark.sql("CREATE NAMESPACE tcAf.a")
    spark.sql("CREATE TABLE tcAf.a.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO tcAf.a.t VALUES (1, 'native')")
    // foreign files: plain Spark write, no field ids
    Seq((10L, "imp_a"), (11L, "imp_b")).toDF("id", "v")
      .coalesce(1).write.parquet(s"$wh/staged_in")
    val added = Maintenance.addFiles(spark, gt("tcAf", "a", "t"), "staged_in")
    assert(added >= 1)
    assert(gt("tcAf", "a", "t").meta.properties
      .contains(graft.meta.TableMeta.NameMappingKey))
    assert(spark.sql("SELECT COUNT(*) FROM tcAf.a.t").collect()(0).getLong(0) == 3)

    // RENAME after import: native files resolve by id, imported files
    // through the frozen mapping (id -> 'v') — values must survive
    spark.sql("ALTER TABLE tcAf.a.t RENAME COLUMN v TO label")
    assert(spark.sql("SELECT label FROM tcAf.a.t WHERE id = 10").collect()(0)
      .getString(0) == "imp_a")
    // a column added after import reads NULL from imported files,
    // and a predicate on it must not match them (residual-filter path)
    spark.sql("ALTER TABLE tcAf.a.t ADD COLUMN extra BIGINT")
    spark.sql("INSERT INTO tcAf.a.t VALUES (2, 'native2', 7)")
    assert(spark.sql("SELECT COUNT(*) FROM tcAf.a.t WHERE extra = 7")
      .collect()(0).getLong(0) == 1)
    assert(spark.sql("SELECT COUNT(*) FROM tcAf.a.t WHERE extra IS NULL")
      .collect()(0).getLong(0) == 3)
  }

  test("MOR delete hits imported rows; compaction rewrites them native and restores the delegate scan") {
    val wh = freshWh("tcAfm")
    import spark.implicits._
    spark.sql("CREATE NAMESPACE tcAfm.a")
    spark.sql("CREATE TABLE tcAfm.a.t (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql("INSERT INTO tcAfm.a.t VALUES (1, 'native')")
    (10L until 14L).map(i => (i, s"imp_$i")).toDF("id", "v")
      .coalesce(1).write.parquet(s"$wh/staged_mor")
    Maintenance.addFiles(spark, gt("tcAfm", "a", "t"), "staged_mor")
    def snap = gt("tcAfm", "a", "t").readSnapshot.get
    assert(gt("tcAfm", "a", "t").currentFiles.exists(_.nameMapped.contains(true)))

    // a MOR position delete must land on the IMPORTED file's rows
    spark.sql("DELETE FROM tcAfm.a.t WHERE id IN (11, 13)")
    assert(snap.deleteFiles.nonEmpty, "expected a merge-on-read delete commit")
    assert(spark.sql("SELECT id FROM tcAfm.a.t ORDER BY id").collect().toSeq ==
      Seq(Row(1L), Row(10L), Row(12L)))

    // the scan over a mapped table is the merge-on-read scan...
    def scanOf() = gt("tcAfm", "a", "t")
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of())).build()
    // the plain read reads through the parquet delegate's own reader
    // only when no delete, import or metadata column needs the rows
    def readsThroughDelegate(s: org.apache.spark.sql.connector.read.Scan) =
      s.toBatch.createReaderFactory().isInstanceOf[
        org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory]
    assert(scanOf().isInstanceOf[MergeOnReadScan] && !readsThroughDelegate(scanOf()))
    // the `_file`/`_pos` metadata-column scan takes the same route
    def metaScanOf() = {
      val sb = gt("tcAfm", "a", "t")
        .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of()))
      sb.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns]
        .pruneColumns(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("_pos", org.apache.spark.sql.types.LongType))))
      sb.build()
    }
    assert(metaScanOf().isInstanceOf[MergeOnReadScan])
    // ...until compaction rewrites imports as native id-ful files
    Maintenance.compact(spark, gt("tcAfm", "a", "t"), targetFiles = 1)
    val compacted = gt("tcAfm", "a", "t").currentFiles
    assert(compacted.nonEmpty && !compacted.exists(_.nameMapped.contains(true)))
    assert(readsThroughDelegate(scanOf()),
      "post-compaction scan should return to the parquet delegate")
    assert(metaScanOf().isInstanceOf[MergeOnReadScan],
      "metadata columns are served by the merge-on-read scan on any table")
    assert(spark.sql("SELECT COUNT(*), SUM(id) FROM tcAfm.a.t").collect()(0)
      .toSeq == Seq(3L, 23L))

    // and the changelog AFTER the first commit reconstructs the net
    // effect of import + MOR delete + compaction (compaction emits
    // nothing; the native seq-1 row is before the start, so absent)
    val net = spark.read.option("start-snapshot-id", "1")
      .table("tcAfm.a.`t$changes`")
      .groupBy("id")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.col("_change_type") === "insert", 1)
          .otherwise(-1)).as("n"))
      .filter("n > 0").select("id")
    assert(net.collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 12L))
  }

  test("add_files guard rails: bad source, partition-spanning file, double import, stale mapping") {
    val wh = freshWh("tcAfg")
    import spark.implicits._
    spark.sql("CREATE NAMESPACE tcAfg.a")
    spark.sql("CREATE TABLE tcAfg.a.p (id BIGINT, k INT) PARTITIONED BY (k)")
    def t = gt("tcAfg", "a", "p")
    intercept[IllegalArgumentException] {
      Maintenance.addFiles(spark, t, "/tmp/absolute_outside")
    }
    intercept[IllegalArgumentException] {
      Maintenance.addFiles(spark, t, "no_such_dir")
    }
    // one file spanning two partition values of k must be refused
    Seq((1L, 1), (2L, 2)).toDF("id", "k").coalesce(1).write.parquet(s"$wh/span")
    val e = intercept[IllegalArgumentException] {
      Maintenance.addFiles(spark, t, "span")
    }
    assert(e.getMessage.contains("not clustered"))
    // clustered import works, re-importing the same dir is refused
    Seq((3L, 3)).toDF("id", "k").coalesce(1).write.parquet(s"$wh/ok")
    assert(Maintenance.addFiles(spark, t, "ok") == 1)
    intercept[IllegalArgumentException] {
      Maintenance.addFiles(spark, t, "ok")
    }
    // a file sharing no column with the schema is refused
    Seq(("x", 1.0)).toDF("other", "cols").coalesce(1).write.parquet(s"$wh/blind")
    intercept[IllegalArgumentException] {
      Maintenance.addFiles(spark, t, "blind")
    }
    // a rename AFTER the mapping froze blocks further imports loudly
    spark.sql("ALTER TABLE tcAfg.a.p RENAME COLUMN id TO ident")
    Seq((4L, 4)).toDF("ident", "k").coalesce(1).write.parquet(s"$wh/late")
    val e2 = intercept[IllegalArgumentException] {
      Maintenance.addFiles(spark, t, "late")
    }
    assert(e2.getMessage.contains("name mapping"))
    // non-identity specs are refused (partition values can't be
    // recovered from column bounds)
    spark.sql("CREATE TABLE tcAfg.a.b (id BIGINT) TBLPROPERTIES ('x'='y')")
    Maintenance.updateSpec(gt("tcAfg", "a", "b"), List(("id", "bucket[4]")))
    val e3 = intercept[IllegalArgumentException] {
      Maintenance.addFiles(spark, gt("tcAfg", "a", "b"), "ok")
    }
    assert(e3.getMessage.contains("identity"))
  }

  test("register_table guard rails: path catalog refuses; JDBC refuses bad locations") {
    val wh = freshWh("tcRgp")
    spark.sql("CREATE NAMESPACE tcRgp.r")
    spark.sql("CREATE TABLE tcRgp.r.t (id BIGINT)")
    spark.sql("INSERT INTO tcRgp.r.t VALUES (1)")
    // path-based catalog: a table under the warehouse IS registered
    intercept[Exception] {
      spark.sql("CALL tcRgp.system.register_table(tbl => 'r.t2', " +
        "metadata_location => 'r/t/metadata/v2.metadata.json')").collect()
    }

    val db = "/tmp/graft_test_rgj_db"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(db))
    spark.conf.set("spark.sql.catalog.tcRgj", "graft.catalog.JdbcRelativeCatalog")
    spark.conf.set("spark.sql.catalog.tcRgj.warehouse", wh)
    spark.conf.set("spark.sql.catalog.tcRgj.uri", s"jdbc:derby:$db;create=true")
    val jcat = spark.sessionState.catalogManager.catalog("tcRgj")
      .asInstanceOf[graft.catalog.JdbcRelativeCatalog]
    spark.sql("CREATE NAMESPACE tcRgj.r")
    def reg(name: String, loc: String) =
      jcat.registerTable(Identifier.of(Array("r"), name), loc)
    // location outside the identifier's directory
    intercept[IllegalArgumentException] { reg("zz", "r/t/metadata/v2.metadata.json") }
    // '..' segments that PASS the directory-prefix check but resolve
    // outside the identifier's directory (refused on the segment, not
    // the resolution, so the guard can't be confused)
    val eDot = intercept[IllegalArgumentException] {
      reg("zz2", "r/zz2/metadata/../../t/metadata/v2.metadata.json")
    }
    assert(eDot.getMessage.contains(".."), eDot.getMessage)
    // absolute location
    intercept[IllegalArgumentException] { reg("t", s"$wh/r/t/metadata/v2.metadata.json") }
    // unparseable version filename
    intercept[IllegalArgumentException] { reg("t", "r/t/metadata/current.metadata.json") }
    // missing file
    intercept[IllegalArgumentException] { reg("t", "r/t/metadata/v9.metadata.json") }
    // good: adopt the path-catalog table's metadata, read through JDBC,
    // and the NEXT commit continues the version chain
    val t = reg("t", "r/t/metadata/v2.metadata.json")
    assert(t.readSnapshot.isDefined)
    assert(spark.sql("SELECT id FROM tcRgj.r.t").collect()(0).getLong(0) == 1)
    spark.sql("INSERT INTO tcRgj.r.t VALUES (2)")
    assert(spark.sql("SELECT COUNT(*) FROM tcRgj.r.t").collect()(0).getLong(0) == 2)
    // double registration refused
    intercept[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException] {
      reg("t", "r/t/metadata/v2.metadata.json")
    }
  }

  test("snapshot: zero-copy copy diverges independently, carries MOR deletes, refuses expiry, drops safely") {
    freshWh("tcSnp")
    spark.sql("CREATE NAMESPACE tcSnp.s")
    spark.sql("CREATE TABLE tcSnp.s.src (id BIGINT) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql("INSERT INTO tcSnp.s.src SELECT id FROM range(0, 10)")
    spark.sql("DELETE FROM tcSnp.s.src WHERE id >= 8") // MOR delete files
    assert(gt("tcSnp", "s", "src").readSnapshot.get.deleteFiles.nonEmpty)
    spark.sql("CALL tcSnp.system.snapshot(source_tbl => 's.src', tbl => 's.dev')")
    // the copy sees the delete-applied state without copying a byte
    assert(spark.sql("SELECT COUNT(*), SUM(id) FROM tcSnp.s.dev").collect()(0)
      .toSeq == Seq(8L, 28L))
    assert(gt("tcSnp", "s", "dev").meta.properties.get("gc.enabled").contains("false"))
    // divergence is two-way invisible
    spark.sql("INSERT INTO tcSnp.s.dev VALUES (100)")
    spark.sql("DELETE FROM tcSnp.s.src WHERE id = 0")
    assert(spark.sql("SELECT COUNT(*) FROM tcSnp.s.dev").collect()(0).getLong(0) == 9)
    assert(spark.sql("SELECT COUNT(*) FROM tcSnp.s.src").collect()(0).getLong(0) == 7)
    // expiry on the copy is refused (it could delete the source's files)
    val e = intercept[IllegalArgumentException] {
      Maintenance.expireSnapshots(gt("tcSnp", "s", "dev").ops, keepLast = 1)
    }
    assert(e.getMessage.contains("gc.enabled"))
    intercept[IllegalArgumentException] {
      Maintenance.expireOlderThan(gt("tcSnp", "s", "dev").ops, System.currentTimeMillis())
    }
    // dropping the copy removes only ITS directory; the source reads on
    spark.sql("DROP TABLE tcSnp.s.dev")
    assert(spark.sql("SELECT COUNT(*) FROM tcSnp.s.src").collect()(0).getLong(0) == 7)
  }

  test("migrate adopts a parquet directory zero-copy: inferred schema, no byte moves, rename-safe") {
    val wh = freshWh("tcMig")
    import spark.implicits._
    spark.sql("CREATE NAMESPACE tcMig.m")
    Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, null.asInstanceOf[String], 3.5))
      .toDF("id", "name", "score")
      .repartition(2).write.parquet(s"$wh/landing/raw")
    val before = new java.io.File(s"$wh/landing/raw").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.length).toMap

    val out = spark.sql(
      "CALL tcMig.system.migrate(source_dir => 'landing/raw', tbl => 'm.t')")
      .collect()(0)
    assert(out.getInt(0) == before.size && out.getString(1) == "m/t")
    // inferred schema + data intact, zero-copy (source files untouched)
    assert(spark.sql("SELECT COUNT(*), SUM(score) FROM tcMig.m.t").collect()(0)
      .toSeq == Seq(3L, 7.5))
    assert(spark.table("tcMig.m.t").schema.fieldNames.toSeq == Seq("id", "name", "score"))
    val after = new java.io.File(s"$wh/landing/raw").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.length).toMap
    assert(after == before, "migrate must not move or rewrite a byte")
    // imports resolve by frozen name mapping: a post-migrate rename
    // stays metadata-only
    spark.sql("ALTER TABLE tcMig.m.t RENAME COLUMN score TO points")
    assert(spark.sql("SELECT SUM(points) FROM tcMig.m.t").collect()(0).getDouble(0) == 7.5)
    // guard rails: absolute source refused; a failed import leaves no table
    val e = intercept[Exception] {
      spark.sql("CALL tcMig.system.migrate(source_dir => '/etc', tbl => 'm.bad')").collect()
    }
    assert(e.getMessage.contains("warehouse-relative"), e.getMessage)
    intercept[Exception] {
      spark.sql("CALL tcMig.system.migrate(source_dir => 'landing/nope', tbl => 'm.bad')").collect()
    }
    assert(!spark.catalog.tableExists("tcMig.m.bad"))
    // '..' escapes would store relative paths that dangle after a
    // warehouse relocation — refused in migrate AND add_files
    val e2 = intercept[Exception] {
      spark.sql("CALL tcMig.system.migrate(source_dir => '../elsewhere', tbl => 'm.bad')").collect()
    }
    assert(e2.getMessage.contains(".."), e2.getMessage)
    val e3 = intercept[Exception] {
      Maintenance.addFiles(spark, gt("tcMig", "m", "t"), "landing/../../etc")
    }
    assert(e3.getMessage.contains(".."), e3.getMessage)
    // a source dir NESTED under the new table's directory is refused
    // up front: a failed import's rollback purges the table dir
    // recursively and would destroy the adopted source files with it
    Seq((1L, 5.0)).toDF("id", "score").write.parquet(s"$wh/m/bad2/raw")
    val eNest = intercept[Exception] {
      spark.sql("CALL tcMig.system.migrate(source_dir => 'm/bad2/raw', tbl => 'm.bad2')").collect()
    }
    assert(eNest.getMessage.contains("inside the new table's directory"), eNest.getMessage)
    assert(!spark.catalog.tableExists("tcMig.m.bad2"))
    // '.' and '//' segments would dodge the string-prefix check while
    // the filesystem still resolves inside the refused directory
    val eDot = intercept[Exception] {
      spark.sql("CALL tcMig.system.migrate(source_dir => 'm/./bad2/raw', tbl => 'm.bad2')").collect()
    }
    assert(eDot.getMessage.contains("segments"), eDot.getMessage)
    val eSlash = intercept[Exception] {
      spark.sql("CALL tcMig.system.migrate(source_dir => 'm//bad2/raw', tbl => 'm.bad2')").collect()
    }
    assert(eSlash.getMessage.contains("segments"), eSlash.getMessage)
    assert(new java.io.File(s"$wh/m/bad2/raw").listFiles()
      .exists(_.getName.endsWith(".parquet")), "refusal must not touch the source files")
    // hive-partitioned layout: partition values live in dir names, not
    // footers — inference would invent all-NULL columns; refused at
    // BOTH import entry points
    Seq((1L, 9.0)).toDF("id", "score").write.parquet(s"$wh/landing/hive/day=2026-08-01")
    val e4 = intercept[Exception] {
      spark.sql("CALL tcMig.system.migrate(source_dir => 'landing/hive', tbl => 'm.bad')").collect()
    }
    assert(e4.getMessage.contains("hive-partitioned"), e4.getMessage)
    assert(!spark.catalog.tableExists("tcMig.m.bad"))
    val e5 = intercept[Exception] {
      Maintenance.addFiles(spark, gt("tcMig", "m", "t"), "landing/hive")
    }
    assert(e5.getMessage.contains("hive-partitioned"), e5.getMessage)
  }

  test("rollback_to_timestamp resolves through the snapshot log; ancestors_of rejects unknown ids") {
    val wh = freshWh("tcRts")
    spark.sql("CREATE NAMESPACE tcRts.r")
    spark.sql("CREATE TABLE tcRts.r.t (id BIGINT)")
    spark.sql("INSERT INTO tcRts.r.t VALUES (1)")
    val ops = gt("tcRts", "r", "t").ops
    val t1 = gt("tcRts", "r", "t").meta.currentSnapshot.get.timestampMs
    while (System.currentTimeMillis() <= t1) Thread.sleep(1)
    spark.sql("INSERT INTO tcRts.r.t VALUES (2)")
    // before any snapshot existed → loud
    intercept[IllegalArgumentException] {
      Maintenance.rollbackToTimestamp(ops, t1 - 1000000)
    }
    val sid = Maintenance.rollbackToTimestamp(ops, t1)
    assert(gt("tcRts", "r", "t").meta.currentSnapshotId.contains(sid))
    assert(spark.sql("SELECT COUNT(*) FROM tcRts.r.t").collect()(0).getLong(0) == 1)
    // the rollback itself is IN the log: rolling "back" to now lands
    // on the rollback state, not the rolled-over second insert
    while (System.currentTimeMillis() <= gt("tcRts", "r", "t")
      .meta.snapshotLog.last.timestampMs) Thread.sleep(1)
    assert(Maintenance.rollbackToTimestamp(ops, System.currentTimeMillis()) == sid)

    intercept[IllegalArgumentException] {
      Maintenance.ancestorsOf(ops, Some(123456789L))
    }
    val chain = Maintenance.ancestorsOf(ops)
    assert(chain.map(_.snapshotId) == Seq(sid))
  }
}
