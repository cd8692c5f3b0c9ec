package graft

import graft.catalog.{GraftTable, Maintenance, MergeOnReadScan, Mor, RelativeCatalog}
import graft.meta.RelPaths
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Every reader of live rows under merge-on-read deletes, table-driven:
  * file sets {native only, imports only, mixed} × delete kinds
  * {position, equality} × readers {pruned SELECT, `_file`/`_pos`, the
  * merge-on-read scan vs `Mor.liveRows`, MOR UPDATE, COW DELETE,
  * compact, `$changes`}. Each reader's rows are compared against rows
  * computed in plain Scala from the table's known contents; `_file`/
  * `_pos` are checked against a raw parquet read of the data files.
  */
class LiveRowsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val cat = "tcLive"
  private val wh = s"/tmp/graft_test_$cat"

  // two file groups; a file set writes each one natively or imports it
  private val low = Seq(1L, 2L)
  private val high = Seq(10L, 11L, 12L, 13L)
  private def v(id: Long) = s"v$id"

  private sealed trait FileSet { def imports(group: Seq[Long]): Boolean }
  private case object NativeOnly extends FileSet { def imports(g: Seq[Long]) = false }
  private case object ImportsOnly extends FileSet { def imports(g: Seq[Long]) = true }
  private case object Mixed extends FileSet { def imports(g: Seq[Long]) = g == high }

  private def table(name: String): GraftTable =
    spark.sessionState.catalogManager.catalog(cat).asInstanceOf[RelativeCatalog]
      .loadTable(Identifier.of(Array("l"), name)).asInstanceOf[GraftTable]

  private def rows(sql: String): Set[(Long, String)] =
    spark.sql(sql).collect().map(r => (r.getLong(0), r.getString(1))).toSet

  /** A MOR table holding `low ++ high` laid out by `files`, with row 11
    * deleted by a `kind` delete file. Returns (table name, snapshot id
    * before the delete, snapshot id after it). */
  private def setUp(files: FileSet, kind: String): (String, Long, Long) = {
    val name = s"${files.toString.toLowerCase}_$kind"
    spark.sql(s"CREATE TABLE $cat.l.$name (id BIGINT, v STRING) TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read', 'write.update.mode'='merge-on-read', " +
      s"'write.delete.granularity'='$kind')")
    import spark.implicits._
    for (g <- Seq(low, high)) {
      val df = g.map(id => (id, v(id))).toDF("id", "v").coalesce(1)
      if (files.imports(g)) {
        val dir = s"staged_${name}_${g.head}"
        df.write.parquet(s"$wh/$dir")
        Maintenance.addFiles(spark, table(name), dir)
      } else df.writeTo(s"$cat.l.$name").append()
    }
    val before = table(name).readSnapshot.get.snapshotId
    spark.sql(s"DELETE FROM $cat.l.$name WHERE id = 11")
    val snap = table(name).readSnapshot.get
    assert(snap.deleteFiles.nonEmpty &&
      snap.deleteFiles.forall(_.content.contains("equality") == (kind == "equality")),
      s"$name: expected a $kind delete file")
    (name, before, snap.snapshotId)
  }

  private val live: Map[Long, String] =
    (low ++ high).filterNot(_ == 11L).map(id => id -> v(id)).toMap

  /** (reader, check): each check runs on the post-delete snapshot. */
  private def readers(name: String, before: Long): Seq[(String, () => Unit)] = {
    val t = s"$cat.l.$name"
    Seq(
      "pruned SELECT" -> { () =>
        assert(spark.sql(s"SELECT id FROM $t WHERE id >= 2").collect().map(_.getLong(0)).toSet ==
          live.keySet.filter(_ >= 2))
      },
      "SELECT _file, _pos" -> { () =>
        val got = spark.sql(s"SELECT id, _file, _pos FROM $t").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
        // ground truth: each data file read as plain parquet
        val raw = table(name).ops.allFiles(table(name).readSnapshot.get).flatMap { f =>
          spark.read.parquet(RelPaths.absolutize(wh, f.path))
            .select(col("id"), col("_metadata.row_index")).collect()
            .map(r => (r.getLong(0), f.path, r.getLong(1)))
        }.toSet
        assert(got == raw.filter(r => live.contains(r._1)))
      },
      "scan vs liveRows" -> { () =>
        // the merge-on-read scan against the anti-join reader it
        // replaced for table scans, positions included
        val gt = table(name)
        val snap = gt.readSnapshot.get
        val q = spark.sql(s"SELECT id, v, _file, _pos FROM $t")
        assert(q.queryExecution.sparkPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
        }.exists(_.isInstanceOf[MergeOnReadScan]))
        val got = q.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        val oracle = Mor.liveRows(spark, wh, gt.schema(), gt.ops.allFiles(snap),
            gt.meta.nameMapping, snap.deleteFiles, positions = true).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        assert(got.length == oracle.length && got.toSet == oracle.toSet)
      },
      "MOR UPDATE" -> { () =>
        spark.sql(s"UPDATE $t SET v = 'x' WHERE id IN (2, 12)")
        assert(rows(s"SELECT id, v FROM $t") ==
          live.map { case (id, s) => (id, if (id == 2 || id == 12) "x" else s) }.toSet)
      },
      "COW DELETE" -> { () =>
        spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('write.delete.mode'='copy-on-write')")
        spark.sql(s"DELETE FROM $t WHERE id IN (2, 12)")
        assert(rows(s"SELECT id, v FROM $t") == (live -- Seq(2L, 12L)).toSet)
      },
      "compact" -> { () =>
        Maintenance.compact(spark, table(name))
        assert(table(name).readSnapshot.get.deleteFiles.isEmpty)
        assert(rows(s"SELECT id, v FROM $t") == live.toSet)
      },
      "$changes" -> { () =>
        val got = spark.read.option("start-snapshot-id", before.toString)
          .table(s"$cat.l.`$name$$changes`")
          .select("id", "v", "_change_type").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
        assert(got == Set((11L, v(11), "delete")))
      })
  }

  test("every live-rows reader agrees with plain Scala on native, imported and mixed files") {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.RelativeCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.l")
    val failures = for {
      files <- Seq(NativeOnly, ImportsOnly, Mixed)
      kind <- Seq("position", "equality")
      (name, before, deleted) = setUp(files, kind)
      (reader, check) <- readers(name, before)
      failure <- {
        // every reader starts from the post-delete snapshot
        Maintenance.rollbackTo(table(name).ops, deleted)
        scala.util.Try(check()).failed.toOption
          .map(e => s"$files × $kind × $reader: ${e.getMessage.take(200)}")
      }
    } yield failure
    assert(failures.isEmpty, failures.mkString("\n", "\n", ""))
  }

  test("equality deletes apply when file pruning narrows a read to add_files imports") {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"${wh}_bug"))
    spark.conf.set(s"spark.sql.catalog.${cat}Bug", "graft.catalog.RelativeCatalog")
    spark.conf.set(s"spark.sql.catalog.${cat}Bug.warehouse", s"${wh}_bug")
    val t = s"${cat}Bug.l.t"
    spark.sql(s"CREATE NAMESPACE ${cat}Bug.l")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING) TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read', 'write.update.mode'='merge-on-read', " +
      "'write.delete.granularity'='equality')")
    spark.sql(s"INSERT INTO $t VALUES (1, 'native')")
    import spark.implicits._
    Seq((10L, "a"), (11L, "b"), (12L, "c")).toDF("id", "v").coalesce(1)
      .write.parquet(s"${wh}_bug/staged")
    Maintenance.addFiles(spark,
      spark.sessionState.catalogManager.catalog(s"${cat}Bug").asInstanceOf[RelativeCatalog]
        .loadTable(Identifier.of(Array("l"), "t")).asInstanceOf[GraftTable], "staged")
    spark.sql(s"DELETE FROM $t WHERE id = 11")
    // the mixed read keeps working...
    assert(spark.sql(s"SELECT id FROM $t").collect().map(_.getLong(0)).toSet == Set(1L, 10L, 12L))
    // ...and so do reads whose pruned file set is the import alone
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE id >= 10").collect()(0).getLong(0) == 2)
    assert(spark.sql(s"SELECT id, _pos FROM $t WHERE id >= 10").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((10L, 0L), (12L, 2L)))
    spark.sql(s"UPDATE $t SET v = 'x' WHERE id = 12")
    assert(rows(s"SELECT id, v FROM $t") == Set((1L, "native"), (10L, "a"), (12L, "x")))
  }

  test("a nested field reads through the merge-on-read scan under a position delete") {
    val c = s"${cat}Nested"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"${wh}_nested"))
    spark.conf.set(s"spark.sql.catalog.$c", "graft.catalog.RelativeCatalog")
    spark.conf.set(s"spark.sql.catalog.$c.warehouse", s"${wh}_nested")
    val t = s"$c.l.t"
    spark.sql(s"CREATE NAMESPACE $c.l")
    spark.sql(s"CREATE TABLE $t (id BIGINT, s STRUCT<a: STRING, c: BIGINT>) TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read')")
    spark.range(6).selectExpr("id", "named_struct('a', CONCAT('a', id), 'c', id * 10) AS s")
      .coalesce(1).writeTo(t).append()
    spark.sql(s"DELETE FROM $t WHERE id = 2")
    // Spark prunes `s` to struct<c> and reads `s.c` by its ordinal there
    val q = spark.sql(s"SELECT s.c FROM $t")
    assert(q.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.exists(_.isInstanceOf[MergeOnReadScan]))
    assert(q.collect().map(_.getLong(0)).toSet == Set(0L, 10L, 30L, 40L, 50L))
    assert(spark.sql(s"SELECT s.a, s.c, _pos FROM $t WHERE s.c > 0").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
      Set(("a1", 10L, 1L), ("a3", 30L, 3L), ("a4", 40L, 4L), ("a5", 50L, 5L)))
    val gt = spark.sessionState.catalogManager.catalog(c).asInstanceOf[RelativeCatalog]
      .loadTable(Identifier.of(Array("l"), "t")).asInstanceOf[GraftTable]
    val snap = gt.readSnapshot.get
    val oracle = Mor.liveRows(spark, s"${wh}_nested", gt.schema(), gt.ops.allFiles(snap),
      gt.meta.nameMapping, snap.deleteFiles).select("s.c").collect().map(_.getLong(0)).toSet
    assert(oracle == Set(0L, 10L, 30L, 40L, 50L))
  }
}
