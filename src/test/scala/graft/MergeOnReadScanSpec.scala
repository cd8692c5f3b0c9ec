package graft

import graft.catalog.{Changes, GraftTable, KeyGrouping, Maintenance, MergeOnReadPartition, MergeOnReadScan, Mor, Writer}
import graft.meta.RelPaths
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.col
import graft.TestSpark.TableFiles
import org.scalatest.funsuite.AnyFunSuite

/** The merge-on-read scan ([[MergeOnReadScan]]): deletes applied inside
  * the scan task, keyed by (`DataFile.path`, parquet row index) — for
  * table scans, `Mor.liveRows`, the copy-on-write rewrite scan, and the
  * change reads' removed rows (`Mor.removedRows`).
  * Checked against rows computed in plain Scala and raw parquet reads;
  * plan shape, planning work and scan metrics are pinned on plan
  * nodes. */
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
    // (warehouse spelling, character in the path): posix paths, and
    // the two local URI spellings (a URI names ` ` and `%` escaped)
    val cases = for {
      ((scheme, ch), i) <- Seq(("", " "), ("", "%"), ("", "+"), ("file:", ""),
        ("file://", "")).zipWithIndex
      jdbc <- Seq(false, true)
    } yield (scheme, ch, i, jdbc)
    val failures = cases.flatMap { case (scheme, ch, i, jdbc) =>
      val cat = s"tcEnc${if (jdbc) "J" else "H"}$i"
      val local = s"/tmp/graft_test_${cat}_a${ch}b"
      val wh = scheme + local
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(local))
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
        val expected = Set((5L, "v5"), (6L, "v6"), (7L, "u"), (8L, "m"), (9L, "v9"),
          (20L, "n"))
        assert(ids == expected, "rows after DELETE, UPDATE, MERGE")
        val snap = gt.readSnapshot.get
        val paths = gt.ops.allFiles(snap).map(_.path).toSet
        val served = spark.sql(s"SELECT _file FROM $t").collect().map(_.getString(0)).toSet
        assert(served.nonEmpty && served.subsetOf(paths), s"_file $served not in $paths")
        val bounds = snap.deleteFiles.flatMap(d =>
          d.minBound.get("file_path").toSeq ++ d.maxBound.get("file_path"))
        assert(bounds.nonEmpty && bounds.forall(b => RelPaths.absolutize(wh, b) != b),
          s"delete file_path bounds not relative: $bounds")
        val read = Mor.liveRows(spark, gt.ops, gt.meta, gt.ops.allFiles(snap),
          snap.deleteFiles).collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
        assert(read == expected, s"liveRows $read")
      }.failed.toOption.map(e =>
        s"${if (jdbc) "jdbc" else "hadoop"} '$scheme' '$ch': ${e.getMessage.take(300)}")
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
    val read = Mor.liveRows(spark, gt.ops, gt.meta, gt.currentFiles,
        snap.deleteFiles, positions = true)
      .where(col("id") >= cut).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet
    assert(read == raw.filterNot(r => dead(r._1)))
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

  /** `q`, built and planned, asserting that building and planning it
    * ran no Spark job, and that its physical plan has no join and reads
    * through the merge-on-read scan. */
  private def plannedWithoutJob(q: => DataFrame): DataFrame = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusShim.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val (df, planned) = try {
      val df = q
      val p = df.queryExecution.executedPlan
      org.apache.spark.ListenerBusShim.drain(spark.sparkContext)
      (df, p)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0, s"${jobs.get} Spark job(s) ran while planning")
    assert(collectWithSubqueries(planned) { case j: BaseJoinExec => j }.isEmpty)
    assert(scans(planned).map(_.scan).exists(_.isInstanceOf[MergeOnReadScan]))
    df
  }

  private def noJoinExecuted(q: DataFrame): Unit =
    assert(collectWithSubqueries(q.queryExecution.executedPlan) { case j: BaseJoinExec => j }
      .isEmpty, "anti-join in the executed plan")

  test("a read under position and equality deletes has no join and runs no job while planning") {
    val t = bothKinds("tcMosPlan")
    val q = spark.sql(s"SELECT count(*), sum(id) FROM $t")
    plannedWithoutJob(q)
    val row = q.collect()(0)
    assert(row.getLong(0) == 95L && row.getLong(1) == (0L until 100L).sum - 3 - 110)
    noJoinExecuted(q)
  }

  test("Mor.liveRows and a MOR DELETE's read plan the merge-on-read scan: no join, no job, metrics") {
    val t = bothKinds("tcMosLive")
    val gt = table("tcMosLive", "b", "t")
    val snap = gt.readSnapshot.get
    val dead = Set(0L, 1L, 2L, 50L, 60L)
    // ground truth: the data files read as plain parquet
    val raw = gt.currentFiles.flatMap { f =>
      spark.read.parquet(RelPaths.absolutize(gt.ops.warehouse, f.path))
        .select(col("id"), col("v"), col("_metadata.row_index")).collect()
        .map(r => (r.getLong(0), r.getString(1), f.path, r.getLong(2)))
    }.filterNot(r => dead(r._1))
    val live = Mor.liveRows(spark, gt.ops, gt.meta, gt.currentFiles, snap.deleteFiles,
      positions = true)
    plannedWithoutJob(live)
    val rows = live.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(rows.length == 95 && rows.toSet == raw.toSet)
    noJoinExecuted(live)
    // compaction and the change reads read through this scan, so they
    // report its metrics too
    val Seq(scan) = scans(live.queryExecution.executedPlan)
    assert(scan.metrics(MergeOnReadScan.DeleteFilesApplied).value == 2)
    assert(scan.metrics(MergeOnReadScan.PositionDeletedRows).value == 3)
    assert(scan.metrics(MergeOnReadScan.EqualityDeletedRows).value == 2)
    // the tombstones a MOR DELETE ... WHERE id < 10 would stage
    val tombstones = gt.matchedPositions(gt.currentFiles, col("id") < 10)
    plannedWithoutJob(tombstones)
    assert(tombstones.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      raw.filter(_._1 < 10).map(r => (r._3, r._4)).toSet)
    noJoinExecuted(tombstones)
    spark.sql(s"DELETE FROM $t WHERE id < 10")
    assert(spark.sql(s"SELECT id FROM $t").collect().map(_.getLong(0)).toSet ==
      (10L until 100L).filterNot(dead).toSet)
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

  test("copy-on-write UPDATE and MERGE under deletes and imports read through the merge-on-read scan") {
    val cat = "tcMosCow"
    val wh = s"/tmp/graft_test_$cat"
    hadoopCatalog(cat, wh)
    spark.sql(s"CREATE NAMESPACE $cat.c")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratchDirs = Option(tmp.list()).toSeq.flatten.filter(_.startsWith("graft_mor_rewrite")).toSet
    // an eagerly run command's plan is the command's own physical plan
    def commandPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
      case c: org.apache.spark.sql.execution.CommandResultExec => c.commandPhysicalPlan
      case p => p
    }
    val base = (0L until 6L).map(id => id -> s"v$id").toMap
    val source = Map(1L -> "m", 4L -> "m", 9L -> "n")
    val commands: Seq[(String, String => String, Map[Long, String] => Map[Long, String])] = Seq(
      ("update", t => s"UPDATE $t SET v = 'u' WHERE id IN (1, 3)",
        live => live.map { case (id, v) => id -> (if (id == 1 || id == 3) "u" else v) }),
      ("merge", t => s"MERGE INTO $t d USING (SELECT 1L AS id, 'm' AS v UNION ALL " +
        "SELECT 4L, 'm' UNION ALL SELECT 9L, 'n') s ON d.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *",
        live => live ++ source))
    import spark.implicits._
    val failures = for {
      kind <- Seq("position", "equality", "import")
      (command, sql, expected) <- commands
      failure <- scala.util.Try {
        val name = s"${kind}_$command"
        val t = s"$cat.c.$name"
        spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING) TBLPROPERTIES (" +
          "'write.delete.mode'='merge-on-read', 'write.delete.granularity'=" +
          s"'${if (kind == "equality") "equality" else "position"}')")
        val df = base.toSeq.toDF("id", "v").coalesce(1)
        val live =
          if (kind == "import") {
            df.write.parquet(s"$wh/staged_$name")
            graft.catalog.Maintenance.addFiles(spark, table(cat, "c", name), s"staged_$name")
            base
          } else {
            df.writeTo(t).append()
            spark.sql(s"DELETE FROM $t WHERE id = 1")
            val dels = table(cat, "c", name).readSnapshot.get.deleteFiles
            assert(dels.nonEmpty && dels.forall(Mor.isEquality(_) == (kind == "equality")),
              s"expected a $kind delete file")
            base - 1L
          }
        val before = scratchDirs
        val plan = commandPlan(spark.sql(sql(t)))
        assert(spark.sql(s"SELECT id, v FROM $t").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted == expected(live).toSeq.sorted)
        assert((scratchDirs -- before).isEmpty, s"scratch copies ${scratchDirs -- before}")
        assert(scans(plan).exists(_.scan.isInstanceOf[MergeOnReadScan]),
          s"row-level scan: ${scans(plan).map(_.scan.getClass.getSimpleName)}")
      }.failed.toOption.map(e => s"$kind $command: ${e.getMessage.take(300)}")
    } yield failure
    assert(failures.isEmpty, failures.mkString("\n", "\n", ""))
  }

  /** A merge-on-read table `<cat>.c.t` of four ten-row files (ids
    * 0..39, one id range per file) whose last commit deleted id 5. */
  private def fourFiles(cat: String): GraftTable = {
    hadoopCatalog(cat, s"/tmp/graft_test_$cat")
    spark.sql(s"CREATE NAMESPACE $cat.c")
    spark.sql(s"CREATE TABLE $cat.c.t (id BIGINT, v STRING) $morProps")
    spark.range(0, 40, 1, 4).selectExpr("id", "CONCAT('v', id) AS v").writeTo(s"$cat.c.t").append()
    spark.sql(s"DELETE FROM $cat.c.t WHERE id = 5")
    val gt = table(cat, "c", "t")
    assert(gt.currentFiles.size == 4 && gt.readSnapshot.get.deleteFiles.size == 1)
    gt
  }

  /** The change frame of `<cat>.c.t`'s last commit from [[Changes.between]]. */
  private def lastCommitFrame(cat: String): DataFrame = {
    val gt = table(cat, "c", "t")
    val snap = gt.readSnapshot.get
    val parent = gt.meta.snapshot(snap.parentId.get).get
    Changes.between(spark, gt.ops, gt.meta, parent.sequenceNumber, snap.sequenceNumber).get
  }

  /** (id, v, _change_type) of `df`'s rows, sorted. */
  private def changeRows(df: DataFrame): Seq[(Long, String, String)] =
    df.select("id", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted

  /** The last commit's change rows of `<cat>.c.t`, read through
    * `$changes`; `Changes.between` must return the same rows. */
  private def lastCommitChanges(cat: String): Seq[(Long, String, String)] = {
    val gt = table(cat, "c", "t")
    val parent = gt.readSnapshot.get.parentId.get
    val rows = changeRows(spark.read.option("start-snapshot-id", parent.toString)
      .table(s"$cat.c.`t$$changes`"))
    assert(changeRows(lastCommitFrame(cat)) == rows)
    rows
  }

  private def deleted(ids: Long*): Seq[(Long, String, String)] =
    ids.map(id => (id, s"v$id", "delete")).sorted

  test("a MOR position-delete commit's change rows: one merge-on-read scan, no join, no job") {
    val cat = "tcMosChgPos"
    fourFiles(cat)
    spark.sql(s"DELETE FROM $cat.c.t WHERE id IN (3, 12, 33)")
    assert(lastCommitChanges(cat) == deleted(3, 12, 33))
    val frame = plannedWithoutJob(lastCommitFrame(cat))
    assert(changeRows(frame) == deleted(3, 12, 33))
  }

  test("an equality-delete commit's change rows: one scan of the files its keys may reach, no join, no job") {
    val cat = "tcMosChgEq"
    fourFiles(cat)
    spark.sql(s"ALTER TABLE $cat.c.t SET TBLPROPERTIES ('write.delete.granularity'='equality')")
    // id 5 is already dead: the commit removes only 12 and 13
    spark.sql(s"DELETE FROM $cat.c.t WHERE id IN (5, 12, 13)")
    val gt = table(cat, "c", "t")
    val snap = gt.readSnapshot.get
    assert(Changes.addedDeleteFiles(gt.meta.snapshot(snap.parentId.get), snap)
      .map(Mor.isEquality) == Seq(true))
    assert(lastCommitChanges(cat) == deleted(12, 13))
    val frame = plannedWithoutJob(lastCommitFrame(cat))
    val planned = scans(frame.queryExecution.executedPlan).map(_.scan)
      .collect { case m: MergeOnReadScan => m.plannedFileCount }
    // the keys' bounds (5..13) reach two of the four files
    assert(planned == Seq(2), s"files planned: $planned")
    assert(changeRows(frame) == deleted(12, 13))
  }

  test("a row two position-delete files of one commit name is one change row") {
    val cat = "tcMosChgDup"
    val gt = fourFiles(cat)
    val at = gt.positionsById
    // 5 is already dead; 7 is named by both files
    gt.commitDeletes(Seq(Seq(at(5L), at(7L), at(21L)), Seq(at(7L), at(22L))))
    assert(lastCommitChanges(cat) == deleted(7, 21, 22))
  }

  test("a row a position delete and an equality delete of one commit both kill is one change row") {
    val cat = "tcMosChgMix"
    val gt = fourFiles(cat)
    val at = gt.positionsById
    gt.commitDeletes(Seq(Seq(at(7L), at(8L))), equalityIds = Seq(8L, 30L))
    assert(lastCommitChanges(cat) == deleted(7, 8, 30))
  }

  test("storage-partitioned join under a position delete, an equality delete and an import") {
    import org.apache.spark.sql.connector.read.HasPartitionKey
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val cat = "tcSpjMor"
    val wh = s"/tmp/graft_test_$cat"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    // isolated child session: the switches below are session-global
    val s = spark.newSession()
    Seq(s"spark.sql.catalog.$cat" -> "graft.catalog.RelativeCatalog",
      s"spark.sql.catalog.$cat.warehouse" -> wh,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      KeyGrouping.PreserveGroupingKey -> "true",
      // one split would take every file: plain bin-packing mixes keys
      "spark.sql.files.maxPartitionBytes" -> "1g",
      "spark.sql.files.minPartitionNum" -> "1").foreach { case (k, v) => s.conf.set(k, v) }
    def load(name: String) = s.sessionState.catalogManager.catalog(cat).asInstanceOf[TableCatalog]
      .loadTable(Identifier.of(Array("j"), name)).asInstanceOf[GraftTable]
    // three appends of 4 keys: three small files per key
    def create(name: String, cols: String, props: String, rowsPerAppend: Int, value: String): Unit = {
      s.sql(s"CREATE TABLE $cat.j.$name (k INT, $cols) PARTITIONED BY (k) $props")
      (0 until 3).foreach(i => s.sql(s"INSERT INTO $cat.j.$name SELECT CAST(id % 4 AS INT), $value " +
        s"FROM range(${i * rowsPerAppend}, ${(i + 1) * rowsPerAppend})"))
    }
    s.sql(s"CREATE NAMESPACE $cat.j")
    create("dim", "label STRING", "", 8, "CONCAT('d', id)")
    create("pos", "id BIGINT", "", 40, "id")
    val at = load("pos").positionsById
    load("pos").commitDeletes(Seq(Seq(at(7L), at(14L), at(21L), at(100L))))
    create("eq", "id BIGINT", "TBLPROPERTIES ('write.delete.mode'='merge-on-read', " +
      "'write.delete.granularity'='equality')", 40, "id")
    s.sql(s"DELETE FROM $cat.j.eq WHERE id IN (1, 2, 50, 119)")
    create("imp", "id BIGINT", "", 40, "id")
    import s.implicits._
    (0 until 4).foreach(k => (200L until 205L).map(id => (k, id)).toDF("k", "id")
      .coalesce(1).write.mode("append").parquet(s"$wh/staged_imp"))
    assert(Maintenance.addFiles(s, load("imp"), "staged_imp") == 4)
    assert(load("pos").readSnapshot.get.deleteFiles.exists(!Mor.isEquality(_)))
    assert(load("eq").readSnapshot.get.deleteFiles.exists(Mor.isEquality))
    assert(load("imp").currentFiles.exists(_.nameMapped.contains(true)))

    def join(fact: String) =
      s.sql(s"SELECT f.k, f.id, d.label FROM $cat.j.$fact f JOIN $cat.j.dim d ON f.k = d.k")
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSeq.sorted
    def assertNoShuffle(what: String, plan: SparkPlan): Unit = {
      val joins = plan.collect {
        case j: SortMergeJoinExec => j: SparkPlan
        case j: ShuffledHashJoinExec => j
      }
      assert(joins.nonEmpty, s"$what: expected a shuffled join in:\n$plan")
      assert(joins.head.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"$what: storage-partitioned join still shuffled:\n$plan")
    }
    for (fact <- Seq("pos", "eq", "imp")) {
      val df = join(fact)
      val got = rows(df)
      val plan = df.queryExecution.executedPlan
      assertNoShuffle(fact, plan)
      val keyOf = Seq("dim", fact).flatMap(load(_).currentFiles)
        .map(f => new org.apache.hadoop.fs.Path(f.path).getName -> f.minBound("k").toInt).toMap
      val batchScans = scans(plan)
      assert(batchScans.size == 2)
      for (b <- batchScans; p <- b.inputPartitions) {
        assert(p.isInstanceOf[HasPartitionKey], s"$fact: partition $p carries no key")
        val files = p.asInstanceOf[MergeOnReadPartition].inner.files
        assert(files.map(pf => keyOf(pf.toPath.getName)).toSet ==
          Set(p.asInstanceOf[HasPartitionKey].partitionKey().getInt(0)), s"$fact: a partition mixes keys")
      }
      assert(got.nonEmpty && got == Dsl.withConf(s, KeyGrouping.PreserveGroupingKey -> "false")(rows(join(fact))),
        s"$fact: grouped join rows differ from the ungrouped join")
    }

    // a runtime filter narrows the grouped scan to one key's files
    val filtered = s"SELECT f.k, f.id, d.label FROM $cat.j.pos f JOIN $cat.j.dim d ON f.k = d.k " +
      "WHERE d.label = 'd5'"
    Dsl.withConf(s, "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly" -> "false",
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "100") {
      val df = s.sql(filtered)
      val got = rows(df)
      assertNoShuffle("runtime-filtered", df.queryExecution.executedPlan)
      val fact = scans(df.queryExecution.executedPlan).map(_.scan).collect {
        case m: MergeOnReadScan if m.readSchema().fieldNames.contains("id") => m
      }
      assert(fact.size == 1 && fact.head.plannedFileCount == 3,
        s"runtime filter left ${fact.map(_.plannedFileCount)} of 12 files:\n${df.queryExecution.executedPlan}")
      assert(got.map(_._1).toSet == Set(1) &&
        got == Dsl.withConf(s, KeyGrouping.PreserveGroupingKey -> "false")(rows(s.sql(filtered))))
    }
  }
}
