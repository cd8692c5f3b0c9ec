package graft

import graft.catalog.{GraftTable, MergeOnReadScan, Mor, Writer}
import graft.meta.RelPaths
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.col
import graft.TestSpark.TableFiles
import org.scalatest.funsuite.AnyFunSuite

/** The merge-on-read scan ([[MergeOnReadScan]]): deletes applied inside
  * the scan task, keyed by (`DataFile.path`, parquet row index). Checked
  * against `Mor.liveRows` and raw parquet reads; plan shape, planning
  * work and scan metrics are pinned on plan nodes. */
class MergeOnReadScanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = TestSpark.spark

  private val morProps = "TBLPROPERTIES ('write.delete.mode'='merge-on-read', " +
    "'write.update.mode'='merge-on-read', 'write.merge.mode'='merge-on-read')"

  private def table(cat: String, ns: String, name: String): GraftTable =
    spark.sessionState.catalogManager.catalog(cat).asInstanceOf[TableCatalog]
      .loadTable(Identifier.of(Array(ns), name)).asInstanceOf[GraftTable]

  private def hadoopCatalog(cat: String, wh: String): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.RelativeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
  }

  private def scans(plan: SparkPlan): Seq[BatchScanExec] =
    collectWithSubqueries(plan) { case b: BatchScanExec => b }

  test("merge-on-read DML keys rows by DataFile.path when the warehouse path URL-encodes") {
    val cases = for {
      (ch, i) <- Seq(" ", "%", "+").zipWithIndex
      jdbc <- Seq(false, true)
    } yield (ch, i, jdbc)
    val failures = cases.flatMap { case (ch, i, jdbc) =>
      val cat = s"tcEnc${if (jdbc) "J" else "H"}$i"
      val wh = s"/tmp/graft_test_${cat}_a${ch}b"
      hadoopCatalog(cat, wh)
      if (jdbc) {
        val db = s"/tmp/graft_test_enc_db_$cat"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(db))
        spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.JdbcRelativeCatalog")
        spark.conf.set(s"spark.sql.catalog.$cat.uri", s"jdbc:derby:$db;create=true")
      }
      val t = s"$cat.e.t"
      def ids = spark.sql(s"SELECT id, v FROM $t").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      def gt = table(cat, "e", "t")
      scala.util.Try {
        spark.sql(s"CREATE NAMESPACE $cat.e")
        spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING) $morProps")
        spark.sql(s"INSERT INTO $t SELECT id, CONCAT('v', id) FROM range(10)")
        spark.sql(s"DELETE FROM $t WHERE id < 5")
        assert(spark.sql(s"SELECT count(*) FROM $t").collect()(0).getLong(0) == 5, "DELETE")
        spark.sql(s"UPDATE $t SET v = 'u' WHERE id = 7")
        spark.sql(s"MERGE INTO $t d USING (SELECT 8L AS id, 'm' AS v UNION ALL " +
          "SELECT 20L, 'n') s ON d.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *")
        assert(ids == Set((5L, "v5"), (6L, "v6"), (7L, "u"), (8L, "m"), (9L, "v9"),
          (20L, "n")), "rows after DELETE, UPDATE, MERGE")
        val snap = gt.readSnapshot.get
        val paths = gt.ops.allFiles(snap).map(_.path).toSet
        val served = spark.sql(s"SELECT _file FROM $t").collect().map(_.getString(0)).toSet
        assert(served.nonEmpty && served.subsetOf(paths), s"_file $served not in $paths")
        val bounds = snap.deleteFiles.flatMap(d =>
          d.minBound.get("file_path").toSeq ++ d.maxBound.get("file_path"))
        assert(bounds.nonEmpty && bounds.forall(b => RelPaths.absolutize(wh, b) != b),
          s"delete file_path bounds not relative: $bounds")
        val oracle = Mor.liveRows(spark, gt.ops.warehouse, gt.schema(), gt.ops.allFiles(snap),
          gt.meta.nameMapping, snap.deleteFiles).collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
        assert(oracle == ids, s"liveRows $oracle")
      }.failed.toOption.map(e =>
        s"${if (jdbc) "jdbc" else "hadoop"} '$ch': ${e.getMessage.take(300)}")
    }
    assert(failures.isEmpty, failures.mkString("\n", "\n", ""))
  }

  test("row positions stay exact when pushdown skips row groups and pages") {
    val cat = "tcMosRi"
    val wh = s"/tmp/graft_test_$cat"
    hadoopCatalog(cat, wh)
    val t = s"$cat.r.t"
    spark.sql(s"CREATE NAMESPACE $cat.r")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING) $morProps")
    // one native file of several row groups, each of many pages: Spark's
    // parquet writer takes parquet's row-group and page sizes as options
    // and writes the table schema's field ids; ids are written in
    // order, so a row's id is its position in the file
    val created = table(cat, "r", "t")
    val dir = s"$wh/r/t/data/small-groups"
    spark.range(0, 3000).selectExpr("id", "CONCAT('v', id) AS v")
      .select(created.schema().fields.toSeq.map(f => col(f.name).as(f.name, f.metadata)): _*)
      .coalesce(1).write.option("parquet.block.size", "4096").option("parquet.page.size", "512")
      .parquet(dir)
    Writer.commitSnapshot(created, Writer.collectStatsFromFooters(created.schema(), wh, dir),
      overwrite = false, operation = "append", carryover = Nil)
    val gt = table(cat, "r", "t")
    val Seq(file) = gt.currentFiles
    val abs = RelPaths.absolutize(wh, file.path)
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      spark.sparkContext.hadoopConfiguration, new org.apache.hadoop.fs.Path(abs))
    assert(!file.nameMapped.contains(true) &&
      footer.getFileMetaData.getSchema.getFields.toArray(Array.empty[org.apache.parquet.schema.Type])
        .forall(_.getId != null), "a native file: field ids in the footer")
    val groups = footer
      .getBlocks.toArray(Array.empty[org.apache.parquet.hadoop.metadata.BlockMetaData])
      .map(b => (b.getRowIndexOffset, b.getRowCount))
    assert(groups.length >= 3, s"${groups.length} row groups")
    val cut = 2500L
    // rows of the row groups the predicate cannot skip
    val keptGroupRows = groups.collect { case (off, n) if off + n > cut => n }.sum
    assert(keptGroupRows < 3000)
    // deletes in skipped row groups, in skipped pages of a kept row
    // group, and in rows the predicate keeps
    val dead = Set(5L, 1500L, 2100L, 2600L, 2950L)
    spark.sql(s"DELETE FROM $t WHERE id IN (${dead.mkString(", ")})")
    val q = spark.sql(s"SELECT id, _file, _pos FROM $t WHERE id >= $cut")
    val got = q.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val raw = spark.read.parquet(abs).select(col("id"), col("_metadata.row_index"))
      .where(col("id") >= cut).collect()
      .map(r => (r.getLong(0), file.path, r.getLong(1))).toSet
    assert(got.nonEmpty && got == raw.filterNot(r => dead(r._1)))
    assert(got.forall { case (id, _, pos) => id == pos })
    val snap = table(cat, "r", "t").readSnapshot.get
    assert(snap.deleteFiles.nonEmpty)
    val oracle = Mor.liveRows(spark, wh, gt.schema(), gt.currentFiles, Map.empty,
        snap.deleteFiles, positions = true)
      .where(col("id") >= cut).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet
    assert(got == oracle)
    // the pushed predicate really skipped row groups and pages below
    // the scan
    val scanned = scans(q.queryExecution.executedPlan).map(_.metrics("numOutputRows").value).sum
    assert(scanned < keptGroupRows, s"scan emitted $scanned of $keptGroupRows rows")
  }

  /** A table with one live position delete file and one live equality
    * delete file. */
  private def bothKinds(cat: String): String = {
    hadoopCatalog(cat, s"/tmp/graft_test_$cat")
    val t = s"$cat.b.t"
    spark.sql(s"CREATE NAMESPACE $cat.b")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING) $morProps")
    spark.sql(s"INSERT INTO $t SELECT id, CONCAT('v', id) FROM range(100)")
    spark.sql(s"DELETE FROM $t WHERE id < 3")
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('write.delete.granularity'='equality')")
    spark.sql(s"DELETE FROM $t WHERE id IN (50, 60)")
    val snap = table(cat, "b", "t").readSnapshot.get
    assert(snap.deleteFiles.map(Mor.isEquality).toSet == Set(true, false))
    t
  }

  test("a read under position and equality deletes has no join and runs no job while planning") {
    val t = bothKinds("tcMosPlan")
    val q = spark.sql(s"SELECT count(*), sum(id) FROM $t")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusShim.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val planned = try {
      val p = q.queryExecution.executedPlan
      org.apache.spark.ListenerBusShim.drain(spark.sparkContext)
      p
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0, s"${jobs.get} Spark job(s) ran while planning")
    assert(collectWithSubqueries(planned) { case j: BaseJoinExec => j }.isEmpty)
    assert(scans(planned).map(_.scan).exists(_.isInstanceOf[MergeOnReadScan]))
    val row = q.collect()(0)
    assert(row.getLong(0) == 95L && row.getLong(1) == (0L until 100L).sum - 3 - 110)
    assert(collectWithSubqueries(q.queryExecution.executedPlan) { case j: BaseJoinExec => j }
      .isEmpty, "anti-join in the executed plan")
  }

  test("scan metrics report delete files applied and rows removed by each kind") {
    val t = bothKinds("tcMosMetric")
    val q = spark.sql(s"SELECT id FROM $t")
    assert(q.collect().length == 95)
    val Seq(scan) = scans(q.queryExecution.executedPlan)
    def metric(n: String) = scan.metrics(n).value
    assert(metric(MergeOnReadScan.DeleteFilesApplied) == 2)
    assert(metric(MergeOnReadScan.PositionDeletedRows) == 3)
    assert(metric(MergeOnReadScan.EqualityDeletedRows) == 2)
  }
}
