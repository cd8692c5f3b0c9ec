package graft

import org.scalatest.funsuite.AnyFunSuite

/** The batch scan must report the EXACT committed row count from
  * manifest stats (parquet footers aren't read at planning time), and
  * the estimate must shrink when file pruning drops files — the CBO
  * inputs join planning leans on at scale.
  */
class StatsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def scanStats(sql: String) = {
    val scans = spark.sql(sql).queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }
    assert(scans.nonEmpty, "expected a V2 scan")
    scans.head.scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
  }

  test("scan statistics report exact committed row counts, pruned scans report fewer") {
    val wh = java.nio.file.Files.createTempDirectory("graft_stats_wh").toString
    val c = "graftstatcat"
    spark.conf.set(s"spark.sql.catalog.$c", "graft.catalog.RelativeCatalog")
    spark.conf.set(s"spark.sql.catalog.$c.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $c.s")
    spark.sql(s"CREATE TABLE $c.s.t (id BIGINT, cat STRING) PARTITIONED BY (cat)")
    spark.sql(s"INSERT INTO $c.s.t SELECT id, " +
      "CASE WHEN id % 4 = 0 THEN 'a' ELSE 'b' END FROM range(0, 1000)")

    val full = scanStats(s"SELECT * FROM $c.s.t")
    assert(full.numRows.isPresent && full.numRows.getAsLong == 1000L,
      s"full scan numRows: ${full.numRows}")

    val pruned = scanStats(s"SELECT * FROM $c.s.t WHERE cat = 'a'")
    assert(pruned.numRows.isPresent && pruned.numRows.getAsLong == 250L,
      s"partition-pruned scan must report only surviving files' rows: ${pruned.numRows}")

    spark.sql(s"DROP NAMESPACE $c.s CASCADE")
  }

  test("compute_stats NDV/null counts flow into the V2 scan's columnStats; stale stats withheld") {
    val wh = java.nio.file.Files.createTempDirectory("graft_stats_cs").toString
    val c = "graftstatcs"
    spark.conf.set(s"spark.sql.catalog.$c", "graft.catalog.RelativeCatalog")
    spark.conf.set(s"spark.sql.catalog.$c.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $c.s")
    spark.sql(s"CREATE TABLE $c.s.t (id BIGINT, grp STRING)")
    spark.sql(s"INSERT INTO $c.s.t SELECT id, " +
      "CASE WHEN id % 10 = 0 THEN NULL ELSE CAST(id % 7 AS STRING) END FROM range(0, 700)")

    // no ANALYZE pass yet -> no column stats (never guess)
    assert(scanStats(s"SELECT * FROM $c.s.t").columnStats().isEmpty)

    spark.sql(s"CALL $c.system.compute_stats(tbl => 's.t')")
    val cs = scanStats(s"SELECT * FROM $c.s.t").columnStats()
    assert(!cs.isEmpty, "ANALYZE'd stats must reach the scan")
    var grpNdv = -1L; var grpNulls = -1L
    cs.forEach { (k, v) =>
      if (k.fieldNames().mkString(".") == "grp") {
        grpNdv = v.distinctCount().getAsLong; grpNulls = v.nullCount().getAsLong
      }
    }
    // approx_count_distinct: exact-ish at this cardinality (7 values)
    assert(grpNdv >= 6 && grpNdv <= 8, s"grp ndv: $grpNdv")
    assert(grpNulls == 70L, s"grp nulls: $grpNulls")

    // a NEW commit invalidates: stats are pinned to their snapshot,
    // and wrong NDV is worse than none
    spark.sql(s"INSERT INTO $c.s.t VALUES (9999, 'new')")
    assert(scanStats(s"SELECT * FROM $c.s.t").columnStats().isEmpty,
      "stale column stats must be withheld after a new commit")

    spark.sql(s"DROP NAMESPACE $c.s CASCADE")
  }

  test("column stats are withheld once file pruning shrinks the scan below the snapshot") {
    val wh = java.nio.file.Files.createTempDirectory("graft_stats_pr").toString
    val c = "graftstatpr"
    spark.conf.set(s"spark.sql.catalog.$c", "graft.catalog.RelativeCatalog")
    spark.conf.set(s"spark.sql.catalog.$c.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $c.s")
    spark.sql(s"CREATE TABLE $c.s.t (id BIGINT, cat STRING) PARTITIONED BY (cat)")
    spark.sql(s"INSERT INTO $c.s.t SELECT id, " +
      "CASE WHEN id % 4 = 0 THEN 'a' ELSE 'b' END FROM range(0, 1000)")
    spark.sql(s"CALL $c.system.compute_stats(tbl => 's.t')")

    assert(!scanStats(s"SELECT * FROM $c.s.t").columnStats().isEmpty,
      "full scan must carry the ANALYZE'd column stats")
    // snapshot-wide NDV/null beside a pruned numRows would be an
    // internally inconsistent row (nullCount can exceed numRows)
    val pruned = scanStats(s"SELECT * FROM $c.s.t WHERE cat = 'a'")
    assert(pruned.numRows.getAsLong == 250L)
    assert(pruned.columnStats().isEmpty,
      "snapshot-wide column stats must be withheld from a pruned scan")

    spark.sql(s"DROP NAMESPACE $c.s CASCADE")
  }

  test("distributed footer-stat pass produces the identical DataFile list as the driver pool") {
    import spark.implicits._
    import graft.catalog.{FileSpec, Mor, Staging, Writer}
    val wh = java.nio.file.Files.createTempDirectory("graft_stats_dist").toString
    // a mixed-type staged set with nulls, strings (one past the 64-char
    // bound limit), doubles, timestamps, decimals — the shapes whose
    // bound encoding could diverge between two encoders
    def rows(i: Int) = Seq(
      (i.toLong, if (i % 3 == 0) null else s"v$i", i * 1.5,
        java.sql.Timestamp.valueOf(f"2026-01-${i % 28 + 1}%02d 10:00:00"),
        BigDecimal(i) / 7, "x" * 70 + i),
      (i.toLong + 100, s"w$i", i * -2.5,
        java.sql.Timestamp.valueOf(f"2026-02-${i % 28 + 1}%02d 11:30:00"),
        null, "y" * 70 + i))
    val cols = Seq("id", "name", "score", "ts", "amount", "doc")
    (0 until 24).foreach { i =>
      rows(i).toDF(cols: _*).coalesce(1).write.mode("append").parquet(s"$wh/staged")
    }
    val schema = spark.read.parquet(s"$wh/staged").schema
    val threaded = Writer.collectStatsFromFooters(schema, wh, s"$wh/staged")
    val distributed = Writer.collectStatsFromFooters(
      schema, wh, s"$wh/staged", distributeAbove = 0)
    assert(threaded.size == 24, s"setup: ${threaded.size} files (24 coalesced appends)")
    assert(distributed == threaded,
      "executor-side footer stats must equal the driver pool's byte-for-byte")
    // sanity: the stats are real (bounds + null counts present)
    assert(threaded.forall(f => f.records > 0 && f.minBound.contains("id")))
    assert(threaded.exists(f => f.nullCount.get("name").exists(_ > 0)))

    // the same rows through the table writer: the entries it reports
    // from the footers it just wrote equal a re-read of those footers
    def spec(s: org.apache.spark.sql.types.StructType) =
      FileSpec(s, Writer.broadcastConf(Writer.writerHadoopConf(spark, s)), wh)
    val written = new Staging(s"$wh/written")
    val reported = Writer.writeFiles(
      (0 until 24).flatMap(rows).toDF(cols: _*).repartition(8), written, spec(schema))
    val reread = Writer.collectStatsFromFooters(schema, wh, written.abs)
    assert(reported.size == 8, s"one file per task: ${reported.size}")
    assert(reported.sortBy(_.path) == reread.sortBy(_.path),
      "writer-reported entries must equal the footer re-read field for field")
    assert(reported.forall(f => f.minBound("doc").length == 64 && !f.maxBound.contains("doc")),
      "over-long string bounds: 64-char prefix min, no max")
    assert(reported.forall(f => !f.minBound.contains("amount") && f.nullCount.contains("amount")),
      "decimals: no bounds, exact null counts")

    // a position-delete file keeps FULL-length file_path bounds
    val longPath = "ns/t/data/" + "p" * 80
    val deletes = new Staging(s"$wh/deletes")
    val Seq(del) = Writer.writeFiles(
      Seq((s"$longPath-a.parquet", 3L), (s"$longPath-b.parquet", 1L))
        .toDF("file_path", "pos").coalesce(1),
      deletes, Writer.positionDeleteSpec(wh))
    assert(del.records == 2 && del.minBound("file_path") == s"$longPath-a.parquet" &&
      del.maxBound("file_path") == s"$longPath-b.parquet", s"$del")
    val Seq(delReread) = Writer.collectStatsFromFooters(Mor.deleteSchema, wh, deletes.abs)
    assert(del.copy(minBound = delReread.minBound, maxBound = delReread.maxBound) == delReread,
      "only the exact file_path bounds differ from the default encoding")
  }
}
