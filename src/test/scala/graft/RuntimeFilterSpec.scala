package graft

import graft.catalog.{GraftTable, MergeOnReadScan, Mor}
import graft.TestSpark.TableFiles
import org.apache.spark.sql.{DataFrame, GraftRelationShim}
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.execution.CommandResultExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Runtime filters on the table's one batch scan ([[MergeOnReadScan]]):
  * dynamic file pruning of plain reads and runtime group filtering of
  * copy-on-write rewrites, with live deletes in the table, and the
  * empty file lists either can leave. Checked on plan nodes: the scan
  * that took the runtime filter and the files it planned. */
class RuntimeFilterSpec extends AnyFunSuite {

  import RuntimeFilterSpec.runtimeFiltered

  private lazy val spark = TestSpark.spark

  private def catalog(cat: String): Unit = {
    val wh = s"/tmp/graft_test_$cat"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.RelativeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
  }

  private def table(cat: String, ns: String, name: String): GraftTable = {
    val c = spark.sessionState.catalogManager.catalog(cat).asInstanceOf[TableCatalog]
    c.invalidateTable(Identifier.of(Array(ns), name))
    c.loadTable(Identifier.of(Array(ns), name)).asInstanceOf[GraftTable]
  }

  private def count(sql: String): Long = spark.sql(sql).collect()(0).getLong(0)

  private def withoutAqe[T](body: => T): T = {
    // AQE would coalesce the tiny clustered writes into one file and
    // re-plan the joins; these checks need one file per value
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  /** fact (k INT, m BIGINT) in 8 identity partitions of 125 rows, and
    * dim (k, grp) naming k 0..7 plus k = 100, which no fact row has. */
  private def starSchema(cat: String, props: String): Unit = {
    catalog(cat)
    spark.sql(s"CREATE NAMESPACE $cat.p")
    spark.sql(s"CREATE TABLE $cat.p.fact (k INT, m BIGINT) PARTITIONED BY (k) $props")
    spark.sql(s"CREATE TABLE $cat.p.dim (k INT, grp STRING)")
    spark.sql(s"INSERT INTO $cat.p.fact SELECT CAST(id % 8 AS INT), id FROM range(1000)")
    spark.sql(s"INSERT INTO $cat.p.dim SELECT CAST(id AS INT), CONCAT('g', id) FROM range(8)")
    spark.sql(s"INSERT INTO $cat.p.dim VALUES (100, 'g100')")
  }

  private def factScan(df: DataFrame): MergeOnReadScan = {
    val scans = runtimeFiltered(df)
    assert(scans.size == 1, s"expected one runtime-filtered scan:\n${df.queryExecution.executedPlan}")
    scans.head match {
      case s: MergeOnReadScan => s
      case s => fail(s"fact scan is ${s.getClass.getName}")
    }
  }

  test("dynamic file pruning under a live position delete skips fact files at runtime") {
    val cat = "tcRfDpp"
    withoutAqe {
      starSchema(cat, "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
      spark.sql(s"DELETE FROM $cat.p.fact WHERE m IN (3, 11)")
      val dels = table(cat, "p", "fact").readSnapshot.get.deleteFiles
      assert(dels.nonEmpty && dels.forall(!Mor.isEquality(_)), "expected a position delete file")
      val df = spark.sql(
        s"""SELECT SUM(f.m) AS s FROM $cat.p.fact f
           |JOIN $cat.p.dim d ON f.k = d.k
           |WHERE d.grp = 'g3'""".stripMargin)
      assert(df.collect()(0).getLong(0) == (0L until 1000L).filter(_ % 8 == 3).sum - 3 - 11)
      val scan = factScan(df)
      assert(scan.plannedFileCount <= 2, s"dynamic pruning left ${scan.plannedFileCount} of 8 files")
    }
  }

  test("an empty file list, pinned or runtime-filtered to zero, returns no rows") {
    val cat = "tcRfEmpty"
    withoutAqe {
      starSchema(cat, "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
      val t = table(cat, "p", "fact")
      val pinned = new GraftTable("graft", Identifier.of(Array.empty, t.ops.tableLocation),
        t.ops, t.meta, -1, pinnedFiles = Some((Nil, Nil, Nil)))
      val frame = GraftRelationShim.frame(spark, pinned)
      assert(frame.count() == 0)
      assert(frame.select("_file", "_pos", "m").collect().isEmpty)

      // no fact file holds k = 100: DPP narrows the scan to no file,
      // columnar with no delete, row-based once a delete is live
      def zero(): Unit = {
        val df = spark.sql(
          s"""SELECT COUNT(*) FROM $cat.p.fact f
             |JOIN $cat.p.dim d ON f.k = d.k
             |WHERE d.grp = 'g100'""".stripMargin)
        assert(df.collect()(0).getLong(0) == 0)
        assert(factScan(df).plannedFileCount == 0)
      }
      zero()
      spark.sql(s"DELETE FROM $cat.p.fact WHERE m = 3")
      assert(table(cat, "p", "fact").readSnapshot.get.deleteFiles.nonEmpty)
      zero()
    }
  }

  test("_file runtime group filtering under a live position delete: untouched files carry over") {
    val cat = "tcRfFile"
    catalog(cat)
    spark.sql(s"CREATE NAMESPACE $cat.g")
    val t = s"$cat.g.t"
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING) TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    // four disjoint id-range files, one per commit, and no partition column: only
    // `_file`-keyed runtime filtering can prune
    Seq(("a", 0), ("b", 1000), ("c", 2000), ("d", 3000)).foreach { case (v, lo) =>
      spark.sql(s"INSERT INTO $t SELECT /*+ COALESCE(1) */ id, '$v' FROM range($lo, ${lo + 100})")
    }
    spark.sql(s"DELETE FROM $t WHERE id = 1045")
    val before = table(cat, "g", "t")
    assert(before.readSnapshot.get.deleteFiles.exists(!Mor.isEquality(_)))
    val files = before.currentFiles.map(_.path).toSet
    assert(files.size == 4)

    val merge = spark.sql(
      s"""MERGE INTO $t t
         |USING (SELECT id FROM range(1040, 1050)) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = 'merged'""".stripMargin)
    val scans = runtimeFiltered(merge)
    assert(scans.size == 1 && scans.head.isInstanceOf[MergeOnReadScan],
      s"rewrite scan: ${scans.map(_.getClass.getName)}")
    assert(scans.head.asInstanceOf[MergeOnReadScan].plannedFileCount == 1)

    assert(count(s"SELECT COUNT(*) FROM $t") == 399)
    assert(count(s"SELECT COUNT(*) FROM $t WHERE v = 'merged'") == 9)
    assert(count(s"SELECT COUNT(*) FROM $t WHERE id = 1045") == 0)
    val after = table(cat, "g", "t").currentFiles.map(_.path).toSet
    assert((files -- after).size == 1,
      s"the rewrite replaced ${(files -- after).size} files, not only the matched one")
  }

  test("partition-column runtime group filtering under a live equality delete: untouched partitions carry over") {
    val cat = "tcRfPart"
    catalog(cat)
    spark.sql(s"CREATE NAMESPACE $cat.r")
    val t = s"$cat.r.t"
    spark.sql(s"CREATE TABLE $t (region STRING, id BIGINT, v STRING) PARTITIONED BY (region) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read', 'write.delete.granularity'='equality')")
    withoutAqe {
      spark.sql(
        s"""INSERT INTO $t
           |SELECT CASE WHEN id < 100 THEN 'a' WHEN id < 200 THEN 'b' ELSE 'c' END, id, 'orig'
           |FROM range(300)""".stripMargin)
      spark.sql(s"DELETE FROM $t WHERE id IN (50, 155)")
      val before = table(cat, "r", "t")
      assert(before.readSnapshot.get.deleteFiles.exists(Mor.isEquality))
      val files = before.currentFiles
      def region(r: String) = files.filter(_.minBound.get("region").contains(r)).map(_.path).toSet
      assert(region("a").nonEmpty && region("b").nonEmpty && region("c").nonEmpty)

      // every source id lives in region 'b', but the ON condition has
      // no literal for static pruning: only the runtime group filter
      // proves a and c untouched
      val merge = spark.sql(
        s"""MERGE INTO $t t
           |USING (SELECT id FROM range(150, 160)) s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET v = 'merged'""".stripMargin)
      val scans = runtimeFiltered(merge)
      assert(scans.size == 1 && scans.head.isInstanceOf[MergeOnReadScan],
        s"rewrite scan: ${scans.map(_.getClass.getName)}")
      assert(scans.head.asInstanceOf[MergeOnReadScan].plannedFileCount == region("b").size)

      assert(count(s"SELECT COUNT(*) FROM $t") == 298)
      assert(count(s"SELECT COUNT(*) FROM $t WHERE v = 'merged'") == 9)
      assert(count(s"SELECT COUNT(*) FROM $t WHERE id IN (50, 155)") == 0)
      val after = table(cat, "r", "t").currentFiles.map(_.path).toSet
      assert((region("a") ++ region("c")).subsetOf(after),
        "runtime group filtering failed: an untouched partition was rewritten")
      assert(region("b").intersect(after).isEmpty, "region b should have been rewritten")
    }
  }
}

object RuntimeFilterSpec extends AdaptiveSparkPlanHelper {
  /** The scans that took a runtime filter, once `df` has run; an
    * eagerly run command's plan is the command's own physical plan. */
  def runtimeFiltered(df: DataFrame): Seq[Scan] =
    collectWithSubqueries(df.queryExecution.executedPlan match {
      case c: CommandResultExec => c.commandPhysicalPlan
      case p => p
    }) { case b: BatchScanExec if b.runtimeFilters.nonEmpty => b.scan }
}
