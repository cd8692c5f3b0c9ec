package graft.ops

import graft.{Decl, Pack, Tables}
import graft.Dsl.withConf
import graft.ops.Warehouse.{dirTag, rmTree, withGraftCatalog}
import org.apache.spark.sql.SparkSession

/** End-to-end catalog flows through the DSv2 `RelativeCatalog` —
  * the README demo (CREATE / INSERT / SELECT, reference README.md:13-19)
  * plus time travel and the snapshots metadata table, each verified
  * against a DuckDB oracle over the SOURCE parquet (so the whole
  * create→write→commit→scan path must round-trip correctly to pass).
  */
object CatalogOps extends Pack {

  def decls: Seq[Decl] = Seq(

    // CREATE TABLE + INSERT INTO + SELECT — the reference's README demo
    // flow (C6/C12 + scan), aggregated so the oracle checks the data
    // actually round-tripped through parquet + snapshot commit.
    Decl("q_sink_insert", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_rt"))
      spark.sql(s"CREATE TABLE $c.demo_rt.nat (n_nationkey INT, n_name STRING, n_regionkey INT)")
      Tables(spark, dir, "nation").createOrReplaceTempView("nation_src")
      spark.sql(s"INSERT INTO $c.demo_rt.nat SELECT * FROM nation_src")
      spark.sql(
        s"""SELECT n_regionkey, COUNT(*) AS n, MIN(n_name) AS first_name
           |FROM $c.demo_rt.nat
           |GROUP BY n_regionkey
           |ORDER BY n_regionkey ASC NULLS FIRST""".stripMargin)
    }, Some(
      """SELECT n_regionkey, COUNT(*) AS n, MIN(n_name) AS first_name
        |FROM nation GROUP BY n_regionkey
        |ORDER BY n_regionkey ASC NULLS FIRST""".stripMargin)),

    // Two commits, then VERSION AS OF over the snapshot chain
    // (README.md:67-108): v1 sees only the first insert.
    Decl("q_scan_timetravel", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_tt"))
      spark.sql(s"CREATE TABLE $c.demo_tt.cust (c_custkey BIGINT, c_mktsegment STRING)")
      Tables(spark, dir, "customer").createOrReplaceTempView("customer_src")
      spark.sql(s"INSERT INTO $c.demo_tt.cust SELECT c_custkey, c_mktsegment FROM customer_src WHERE c_custkey % 2 = 0")
      spark.sql(s"INSERT INTO $c.demo_tt.cust SELECT c_custkey, c_mktsegment FROM customer_src WHERE c_custkey % 2 = 1")
      spark.sql(
        s"""SELECT
           |  (SELECT COUNT(*) FROM $c.demo_tt.cust VERSION AS OF 1) AS v1_rows,
           |  (SELECT COUNT(*) FROM $c.demo_tt.cust) AS v2_rows""".stripMargin)
    }, Some(
      """SELECT
        |  (SELECT COUNT(*) FROM customer WHERE c_custkey % 2 = 0) AS v1_rows,
        |  (SELECT COUNT(*) FROM customer) AS v2_rows""".stripMargin)),

    // Id-based schema evolution (ref README.md:30-51): add a column
    // (old rows read NULL), rename it (metadata-only — field ids keep
    // old parquet columns resolving), then read the mixed history.
    Decl("q_cat_evolve", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_ev"))
      spark.sql(s"CREATE TABLE $c.demo_ev.cust (c_custkey BIGINT, c_acctbal DOUBLE)")
      Tables(spark, dir, "customer").createOrReplaceTempView("customer_src")
      spark.sql(s"INSERT INTO $c.demo_ev.cust SELECT c_custkey, c_acctbal FROM customer_src WHERE c_custkey % 2 = 0")
      spark.sql(s"ALTER TABLE $c.demo_ev.cust ADD COLUMN seg STRING")
      spark.sql(s"INSERT INTO $c.demo_ev.cust SELECT c_custkey, c_acctbal, c_mktsegment FROM customer_src WHERE c_custkey % 2 = 1")
      spark.sql(s"ALTER TABLE $c.demo_ev.cust RENAME COLUMN seg TO segment")
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT segment, COUNT(*) AS n,
           |  D2(SUM(CAST(c_acctbal AS DECIMAL(18,6)))) AS total
           |FROM $c.demo_ev.cust
           |GROUP BY segment
           |ORDER BY segment ASC NULLS FIRST""".stripMargin))
    }, Some(
      """SELECT CASE WHEN c_custkey % 2 = 1 THEN c_mktsegment END AS segment,
        |  COUNT(*) AS n,
        |  D2(SUM(CAST(c_acctbal AS DECIMAL(18,6)))) AS total
        |FROM customer
        |GROUP BY segment
        |ORDER BY segment ASC NULLS FIRST""".stripMargin)),

    // TIMESTAMP AS OF over the snapshot log: a wall-clock captured
    // between the two commits resolves to the first snapshot (the
    // "as of yesterday's load" read). The second commit is forced onto
    // a LATER millisecond so the boundary is deterministic.
    Decl("q_scan_timetravel_ts", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_tts"))
      spark.sql(s"CREATE TABLE $c.demo_tts.cust (c_custkey BIGINT, c_acctbal DOUBLE)")
      Tables(spark, dir, "customer").createOrReplaceTempView("customer_src")
      spark.sql(s"INSERT INTO $c.demo_tts.cust SELECT c_custkey, c_acctbal FROM customer_src WHERE c_custkey % 3 = 0")
      val between = System.currentTimeMillis()
      Thread.sleep(5) // commit timestamps are ms-resolution
      spark.sql(s"INSERT INTO $c.demo_tts.cust SELECT c_custkey, c_acctbal FROM customer_src WHERE c_custkey % 3 <> 0")
      val asOf = java.time.Instant.ofEpochMilli(between).toString.replace("T", " ").replace("Z", "")
      spark.sql(
        s"""SELECT
           |  (SELECT COUNT(*) FROM $c.demo_tts.cust TIMESTAMP AS OF '$asOf') AS old_rows,
           |  (SELECT COUNT(*) FROM $c.demo_tts.cust) AS now_rows""".stripMargin)
    }, Some(
      """SELECT
        |  (SELECT COUNT(*) FROM customer WHERE c_custkey % 3 = 0) AS old_rows,
        |  (SELECT COUNT(*) FROM customer) AS now_rows""".stripMargin)),

    // Snapshots metadata table (q_meta_snapshots): stable columns only
    // (ids/timestamps are generation-dependent).
    Decl("q_meta_snapshots", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_ms"))
      spark.sql(s"CREATE TABLE $c.demo_ms.reg (r_regionkey INT, r_name STRING)")
      Tables(spark, dir, "region").createOrReplaceTempView("region_src")
      spark.sql(s"INSERT INTO $c.demo_ms.reg SELECT * FROM region_src WHERE r_regionkey < 3")
      spark.sql(s"INSERT INTO $c.demo_ms.reg SELECT * FROM region_src WHERE r_regionkey >= 3")
      spark.sql(
        s"""SELECT sequence_number, operation, total_records
           |FROM $c.demo_ms.`reg$$snapshots`
           |ORDER BY sequence_number ASC NULLS FIRST""".stripMargin)
    }, Some(
      """SELECT CAST(1 AS BIGINT) AS sequence_number, 'append' AS operation,
        |  (SELECT COUNT(*) FROM region WHERE r_regionkey < 3) AS total_records
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'append', (SELECT COUNT(*) FROM region)
        |ORDER BY sequence_number ASC NULLS FIRST""".stripMargin)),

    // Partitions metadata table: per-partition record counts served
    // LIVE from the writer-stamped per-file partition tuples — no data
    // scan, no stats pass (file_count/bytes are writer-parallelism
    // dependent, so only the exact columns are declared).
    Decl("q_meta_partitions", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_mp"))
      spark.sql(s"CREATE TABLE $c.demo_mp.cust (c_custkey BIGINT, c_nationkey INT, c_acctbal DOUBLE) " +
        "PARTITIONED BY (c_nationkey)")
      Tables(spark, dir, "customer").createOrReplaceTempView("customer_src")
      spark.sql(s"INSERT INTO $c.demo_mp.cust SELECT c_custkey, c_nationkey, c_acctbal FROM customer_src WHERE c_nationkey < 10")
      spark.sql(
        s"""SELECT partition, record_count
           |FROM $c.demo_mp.`cust$$partitions`
           |ORDER BY partition ASC NULLS FIRST""".stripMargin)
    }, Some(
      """SELECT 'c_nationkey=' || CAST(c_nationkey AS VARCHAR) AS partition,
        |  COUNT(*) AS record_count
        |FROM customer WHERE c_nationkey < 10
        |GROUP BY c_nationkey
        |ORDER BY partition ASC NULLS FIRST""".stripMargin)),

    // Refs metadata table: named branches + tags incl. the implicit
    // `main` (snapshot ids are generation-dependent — name/type only).
    Decl("q_meta_refs", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_mr"))
      spark.sql(s"CREATE TABLE $c.demo_mr.reg (r_regionkey INT, r_name STRING)")
      Tables(spark, dir, "region").createOrReplaceTempView("region_src")
      spark.sql(s"INSERT INTO $c.demo_mr.reg SELECT * FROM region_src")
      spark.sql(s"CALL $c.system.create_ref(tbl => 'demo_mr.reg', ref => 'v1', " +
        "ref_type => 'tag', max_ref_age_ms => 86400000)")
      spark.sql(s"CALL $c.system.create_ref(tbl => 'demo_mr.reg', ref => 'audit', ref_type => 'branch')")
      spark.sql(s"SELECT name, type, max_ref_age_ms FROM $c.demo_mr.`reg$$refs` " +
        "ORDER BY name ASC NULLS FIRST")
    }, Some(
      """SELECT name, type, CAST(max_age AS BIGINT) AS max_ref_age_ms
        |FROM (VALUES ('audit','branch',NULL), ('main','branch',NULL), ('v1','tag',86400000)) t(name, type, max_age)
        |ORDER BY name ASC NULLS FIRST""".stripMargin)),

    // Delete-files metadata table: live MOR position-delete inventory.
    // record_count sums are exact (one position row per deleted data
    // row); file counts are writer-parallelism dependent and excluded.
    Decl("q_meta_deletes", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_md"))
      spark.sql(s"CREATE TABLE $c.demo_md.cust (c_custkey BIGINT, c_nationkey INT) " +
        "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
      Tables(spark, dir, "customer").createOrReplaceTempView("customer_src")
      spark.sql(s"INSERT INTO $c.demo_md.cust SELECT c_custkey, c_nationkey FROM customer_src")
      spark.sql(s"DELETE FROM $c.demo_md.cust WHERE c_nationkey = 3")
      spark.sql(s"DELETE FROM $c.demo_md.cust WHERE c_custkey % 10 = 7")
      spark.sql(
        s"""SELECT content, SUM(record_count) AS n_deleted
           |FROM $c.demo_md.`cust$$delete_files`
           |GROUP BY content
           |ORDER BY content ASC NULLS FIRST""".stripMargin)
    }, Some(
      """SELECT 'position' AS content,
        |  CAST((SELECT COUNT(*) FROM customer WHERE c_nationkey = 3) +
        |       (SELECT COUNT(*) FROM customer WHERE c_custkey % 10 = 7 AND c_nationkey <> 3)
        |    AS BIGINT) AS n_deleted
        |ORDER BY content ASC NULLS FIRST""".stripMargin)),

    // Partition-spec EVOLUTION: the table starts unpartitioned, half
    // the rows land in the old layout, update_spec switches the
    // default spec to months(o_orderdate), the other half lands
    // month-partitioned. A date-range read over the mixed table must
    // return exactly the same rows as a flat scan — new-layout files
    // prune by month, old-layout files simply can't and scan (degrade
    // gracefully, never drop). No rewrite of existing data happens at
    // evolution time — that's the whole point of the feature.
    Decl("q_cat_evolve_spec", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_es"))
      spark.sql(s"CREATE TABLE $c.demo_es.ord (o_orderkey BIGINT, o_orderdate TIMESTAMP, o_totalprice DOUBLE)")
      Tables(spark, dir, "orders").createOrReplaceTempView("orders_src")
      spark.sql(s"INSERT INTO $c.demo_es.ord SELECT o_orderkey, o_orderdate, o_totalprice FROM orders_src WHERE o_orderkey % 2 = 0")
      spark.sql(s"CALL $c.system.update_spec(tbl => 'demo_es.ord', transforms => 'o_orderdate:months')")
      spark.sql(s"INSERT INTO $c.demo_es.ord SELECT o_orderkey, o_orderdate, o_totalprice FROM orders_src WHERE o_orderkey % 2 = 1")
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT COUNT(*) AS n,
           |  D2(SUM(CAST(o_totalprice AS DECIMAL(18,6)))) AS total
           |FROM $c.demo_es.ord
           |WHERE o_orderdate >= TIMESTAMP '1995-06-01 00:00:00'
           |  AND o_orderdate < TIMESTAMP '1995-09-01 00:00:00'""".stripMargin))
    }, Some(
      """SELECT COUNT(*) AS n,
        |  D2(SUM(CAST(o_totalprice AS DECIMAL(18,6)))) AS total
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-06-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1995-09-01 00:00:00'""".stripMargin)),

    // Stats metadata table after a compute_stats pass: the EXACT
    // columns (null_count, total_records) oracle against DuckDB; ndv
    // is an HLL estimate (generation-stable but engine-specific) and
    // is bound-checked in MaintSpec instead.
    Decl("q_meta_stats", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_mst"))
      spark.sql(s"CREATE TABLE $c.demo_mst.cust (c_custkey BIGINT, c_mktsegment STRING)")
      Tables(spark, dir, "customer").createOrReplaceTempView("customer_src")
      spark.sql(s"INSERT INTO $c.demo_mst.cust SELECT c_custkey, CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END FROM customer_src")
      spark.sql(s"CALL $c.system.compute_stats(tbl => 'demo_mst.cust')")
      spark.sql(
        s"""SELECT column_name, null_count, total_records
           |FROM $c.demo_mst.`cust$$stats`
           |ORDER BY column_name ASC NULLS FIRST""".stripMargin)
    }, Some(
      """SELECT 'c_custkey' AS column_name, CAST(0 AS BIGINT) AS null_count,
        |  (SELECT COUNT(*) FROM customer) AS total_records
        |UNION ALL
        |SELECT 'c_mktsegment',
        |  (SELECT COUNT(*) FROM customer WHERE c_custkey % 7 = 0),
        |  (SELECT COUNT(*) FROM customer)
        |ORDER BY column_name ASC NULLS FIRST""".stripMargin)),

    // Files metadata table: the per-file inventory of the current
    // snapshot, served from committed manifest entries (no data scan).
    // Grouping by sequence_number checks the per-COMMIT attribution of
    // data files — a carryover bug that restamped old files under the
    // new commit's sequence (or dropped them) shifts a sum here even
    // though every row-level read still passes. File counts and byte
    // sizes are writer-parallelism dependent and excluded.
    Decl("q_meta_files", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_mf"))
      spark.sql(s"CREATE TABLE $c.demo_mf.cust (c_custkey BIGINT, c_nationkey INT)")
      Tables(spark, dir, "customer").createOrReplaceTempView("customer_src")
      spark.sql(s"INSERT INTO $c.demo_mf.cust SELECT c_custkey, c_nationkey FROM customer_src WHERE c_nationkey < 5")
      spark.sql(s"INSERT INTO $c.demo_mf.cust SELECT c_custkey, c_nationkey FROM customer_src WHERE c_nationkey >= 5")
      spark.sql(
        s"""SELECT sequence_number, SUM(record_count) AS n_rows
           |FROM $c.demo_mf.`cust$$files`
           |GROUP BY sequence_number
           |ORDER BY sequence_number ASC NULLS FIRST""".stripMargin)
    }, Some(
      """SELECT CAST(1 AS BIGINT) AS sequence_number,
        |  (SELECT COUNT(*) FROM customer WHERE c_nationkey < 5) AS n_rows
        |UNION ALL
        |SELECT CAST(2 AS BIGINT),
        |  (SELECT COUNT(*) FROM customer WHERE c_nationkey >= 5)
        |ORDER BY sequence_number ASC NULLS FIRST""".stripMargin)),

    // History metadata table: the made-current log, which is NOT the
    // snapshot list — a rollback appends a history entry re-pointing
    // at an OLD snapshot, so after insert/insert/rollback the log
    // reads seq 1, 2, 1 while $snapshots still has two rows. Joining
    // history to snapshots on snapshot_id recovers that sequence
    // (ids/timestamps themselves are generation-dependent; commits
    // are spaced >1 ms apart so the ms-resolution ordering is total).
    Decl("q_meta_history", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_mh"))
      spark.sql(s"CREATE TABLE $c.demo_mh.reg (r_regionkey INT, r_name STRING)")
      Tables(spark, dir, "region").createOrReplaceTempView("region_src")
      spark.sql(s"INSERT INTO $c.demo_mh.reg SELECT * FROM region_src WHERE r_regionkey < 3")
      Thread.sleep(5)
      spark.sql(s"INSERT INTO $c.demo_mh.reg SELECT * FROM region_src WHERE r_regionkey >= 3")
      Thread.sleep(5)
      val cata = spark.sessionState.catalogManager.catalog(c)
        .asInstanceOf[graft.catalog.RelativeCatalog]
      val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("demo_mh"), "reg")
      def tbl = cata.loadTable(ident).asInstanceOf[graft.catalog.GraftTable]
      val v1 = tbl.meta.snapshots.minBy(_.sequenceNumber).snapshotId
      graft.catalog.Maintenance.rollbackTo(tbl.ops, v1)
      spark.sql(s"REFRESH TABLE $c.demo_mh.reg")
      spark.sql(
        s"""SELECT ROW_NUMBER() OVER (ORDER BY h.made_current_at_ms ASC) AS ord,
           |  s.sequence_number
           |FROM $c.demo_mh.`reg$$history` h
           |JOIN $c.demo_mh.`reg$$snapshots` s ON h.snapshot_id = s.snapshot_id
           |ORDER BY ord ASC NULLS FIRST""".stripMargin)
    }, Some(
      """SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
        |  (CAST(2 AS BIGINT), CAST(2 AS BIGINT)),
        |  (CAST(3 AS BIGINT), CAST(1 AS BIGINT))) t(ord, sequence_number)
        |ORDER BY ord ASC NULLS FIRST""".stripMargin)),

    // Identity-partitioned table: the scan with a partition predicate
    // must produce the same rows (file pruning is plan-level; the
    // PruningSpec test asserts the file count shrinks too).
    Decl("q_scan_prune", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_pr"))
      spark.sql(s"CREATE TABLE $c.demo_pr.cust (c_custkey BIGINT, c_nationkey INT, c_acctbal DOUBLE) PARTITIONED BY (c_nationkey)")
      Tables(spark, dir, "customer").createOrReplaceTempView("customer_src")
      spark.sql(s"INSERT INTO $c.demo_pr.cust SELECT c_custkey, c_nationkey, c_acctbal FROM customer_src")
      spark.sql(
        s"""SELECT c_custkey, c_nationkey, c_acctbal
           |FROM $c.demo_pr.cust
           |WHERE c_nationkey IN (3, 7)
           |ORDER BY c_custkey ASC NULLS FIRST, c_nationkey ASC NULLS FIRST,
           |  c_acctbal ASC NULLS FIRST""".stripMargin)
    }, Some(
      """SELECT c_custkey, c_nationkey, c_acctbal
        |FROM customer WHERE c_nationkey IN (3, 7)
        |ORDER BY c_custkey ASC NULLS FIRST, c_nationkey ASC NULLS FIRST,
        |  c_acctbal ASC NULLS FIRST""".stripMargin)),

    // Row-level DELETE: copy-on-write rewrite of only the files the
    // predicate can touch (min/max carryover for the rest).
    Decl("q_cat_delete", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_del"))
      spark.sql(s"CREATE TABLE $c.demo_del.cust (c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE)")
      Tables(spark, dir, "customer").createOrReplaceTempView("customer_src")
      spark.sql(s"INSERT INTO $c.demo_del.cust SELECT c_custkey, c_mktsegment, c_acctbal FROM customer_src")
      spark.sql(s"DELETE FROM $c.demo_del.cust WHERE c_acctbal < 0 OR c_mktsegment = 'BUILDING'")
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT c_mktsegment, COUNT(*) AS n,
           |  D4SUM(c_acctbal) AS bal
           |FROM $c.demo_del.cust
           |GROUP BY c_mktsegment
           |ORDER BY c_mktsegment ASC NULLS FIRST""".stripMargin))
    }, Some(
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  D4SUM(c_acctbal) AS bal
        |FROM customer
        |WHERE NOT (c_acctbal < 0 OR c_mktsegment = 'BUILDING')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment ASC NULLS FIRST""".stripMargin)),

    // Merge-on-read DELETE: position-delete files committed instead of
    // rewriting data files (two trickle deletes stack), applied inside
    // the scan task, file by file. CatalogSpec proves the data files stay
    // byte-identical; this oracle row proves the subtraction is right.
    Decl("q_cat_delete_mor", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_mor"))
      spark.sql(s"CREATE TABLE $c.demo_mor.cust (c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE) " +
        "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
      Tables(spark, dir, "customer").createOrReplaceTempView("customer_src")
      spark.sql(s"INSERT INTO $c.demo_mor.cust SELECT c_custkey, c_mktsegment, c_acctbal FROM customer_src WHERE c_custkey % 2 = 0")
      spark.sql(s"INSERT INTO $c.demo_mor.cust SELECT c_custkey, c_mktsegment, c_acctbal FROM customer_src WHERE c_custkey % 2 = 1")
      spark.sql(s"DELETE FROM $c.demo_mor.cust WHERE c_acctbal < 0 OR c_mktsegment = 'BUILDING'")
      spark.sql(s"DELETE FROM $c.demo_mor.cust WHERE c_custkey <= 50")
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT c_mktsegment, COUNT(*) AS n,
           |  D4SUM(c_acctbal) AS bal
           |FROM $c.demo_mor.cust
           |GROUP BY c_mktsegment
           |ORDER BY c_mktsegment ASC NULLS FIRST""".stripMargin))
    }, Some(
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  D4SUM(c_acctbal) AS bal
        |FROM customer
        |WHERE NOT (c_acctbal < 0 OR c_mktsegment = 'BUILDING') AND NOT (c_custkey <= 50)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment ASC NULLS FIRST""".stripMargin)),

    // Merge-on-read EQUALITY delete (ref README.md:89-90
    // `total-equality-deletes`): the predicate's key tuples ARE the
    // delete file — committed without reading any data (the O(1) CDC
    // trickle-delete path). Sequence-number scoping means a key
    // re-inserted AFTER the delete is not retroactively swallowed —
    // the re-insert below is what the oracle's UNION ALL restores.
    Decl("q_cat_delete_eq", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_eq"))
      spark.sql(s"CREATE TABLE $c.demo_eq.cust (c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE) " +
        "TBLPROPERTIES ('write.delete.mode'='merge-on-read', 'write.delete.granularity'='equality')")
      Tables(spark, dir, "customer").createOrReplaceTempView("customer_src")
      spark.sql(s"INSERT INTO $c.demo_eq.cust SELECT c_custkey, c_mktsegment, c_acctbal FROM customer_src")
      spark.sql(s"DELETE FROM $c.demo_eq.cust WHERE c_mktsegment = 'BUILDING'")
      spark.sql(s"DELETE FROM $c.demo_eq.cust WHERE c_custkey IN (2, 4, 6, 8, 10)")
      spark.sql(s"INSERT INTO $c.demo_eq.cust SELECT c_custkey, c_mktsegment, c_acctbal " +
        "FROM customer_src WHERE c_custkey = 4")
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT c_mktsegment, COUNT(*) AS n,
           |  D4SUM(c_acctbal) AS bal
           |FROM $c.demo_eq.cust
           |GROUP BY c_mktsegment
           |ORDER BY c_mktsegment ASC NULLS FIRST""".stripMargin))
    }, Some(
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  D4SUM(c_acctbal) AS bal
        |FROM (
        |  SELECT c_mktsegment, c_acctbal FROM customer
        |  WHERE c_mktsegment <> 'BUILDING' AND c_custkey NOT IN (2, 4, 6, 8, 10)
        |  UNION ALL
        |  SELECT c_mktsegment, c_acctbal FROM customer WHERE c_custkey = 4
        |)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment ASC NULLS FIRST""".stripMargin)),

    // Row-level UPDATE via group-based copy-on-write (ReplaceData).
    Decl("q_cat_update", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_up"))
      spark.sql(s"CREATE TABLE $c.demo_up.ord (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)")
      Tables(spark, dir, "orders").createOrReplaceTempView("orders_src")
      spark.sql(s"INSERT INTO $c.demo_up.ord SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders_src")
      spark.sql(s"UPDATE $c.demo_up.ord SET o_totalprice = o_totalprice * 1.1 WHERE o_orderstatus = 'F'")
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT o_orderstatus, COUNT(*) AS n,
           |  D2(SUM(CAST(o_totalprice AS DECIMAL(18,6)))) AS total
           |FROM $c.demo_up.ord
           |GROUP BY o_orderstatus
           |ORDER BY o_orderstatus ASC NULLS FIRST""".stripMargin))
    }, Some(
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  D2(SUM(CAST(CASE WHEN o_orderstatus = 'F'
        |        THEN o_totalprice * 1.1 ELSE o_totalprice END AS DECIMAL(18,6)))) AS total
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus ASC NULLS FIRST""".stripMargin)),

    // MERGE INTO: matched rows updated, unmatched inserted (COW).
    Decl("q_cat_merge", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_mg"))
      spark.sql(s"CREATE TABLE $c.demo_mg.cust (c_custkey BIGINT, c_acctbal DOUBLE, c_mktsegment STRING)")
      Tables(spark, dir, "customer").createOrReplaceTempView("customer_src")
      spark.sql(s"INSERT INTO $c.demo_mg.cust SELECT c_custkey, c_acctbal, c_mktsegment FROM customer_src WHERE c_custkey % 3 <> 0")
      spark.sql(
        s"""MERGE INTO $c.demo_mg.cust t
           |USING (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer_src WHERE c_custkey % 2 = 0) s
           |ON t.c_custkey = s.c_custkey
           |WHEN MATCHED THEN UPDATE SET c_acctbal = t.c_acctbal + 1000
           |WHEN NOT MATCHED THEN INSERT (c_custkey, c_acctbal, c_mktsegment)
           |  VALUES (s.c_custkey, s.c_acctbal, s.c_mktsegment)""".stripMargin)
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT c_custkey, D2(CAST(c_acctbal AS DECIMAL(18,6))) AS bal
           |FROM $c.demo_mg.cust
           |ORDER BY c_custkey ASC NULLS FIRST, bal ASC NULLS FIRST""".stripMargin))
    }, Some(
      """WITH base AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 3 <> 0),
        |src AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 2 = 0),
        |merged AS (
        |  SELECT b.c_custkey,
        |    CASE WHEN s.c_custkey IS NOT NULL THEN b.c_acctbal + 1000 ELSE b.c_acctbal END AS bal
        |  FROM base b LEFT JOIN src s ON b.c_custkey = s.c_custkey
        |  UNION ALL
        |  SELECT s.c_custkey, s.c_acctbal FROM src s
        |  WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.c_custkey = s.c_custkey))
        |SELECT c_custkey, D2(CAST(bal AS DECIMAL(18,6))) AS bal
        |FROM merged
        |ORDER BY c_custkey ASC NULLS FIRST, bal ASC NULLS FIRST""".stripMargin)),

    // Maintenance: 3 append snapshots → compact (overwrite snapshot) →
    // expire old snapshots (orphan files physically deleted) → data
    // must still match 3× the source.
    Decl("q_cat_compact", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_cp"))
      spark.sql(s"CREATE TABLE $c.demo_cp.reg (r_regionkey INT, r_name STRING)")
      Tables(spark, dir, "region").createOrReplaceTempView("region_src")
      (1 to 3).foreach(_ =>
        spark.sql(s"INSERT INTO $c.demo_cp.reg SELECT * FROM region_src"))
      val cata = spark.sessionState.catalogManager.catalog(c)
        .asInstanceOf[graft.catalog.RelativeCatalog]
      val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("demo_cp"), "reg")
      val tbl = cata.loadTable(ident).asInstanceOf[graft.catalog.GraftTable]
      graft.catalog.Maintenance.compact(spark, tbl, targetFiles = 1)
      graft.catalog.Maintenance.expireSnapshots(tbl.ops, keepLast = 1)
      spark.sql(
        s"""SELECT r_regionkey, COUNT(*) AS n FROM $c.demo_cp.reg
           |GROUP BY r_regionkey
           |ORDER BY r_regionkey ASC NULLS FIRST""".stripMargin)
    }, Some(
      """SELECT r_regionkey, CAST(3 AS BIGINT) AS n FROM region
        |ORDER BY r_regionkey ASC NULLS FIRST""".stripMargin)),

    // Position-delete consolidation end-to-end: trickle MOR deletes
    // leave per-commit delete debris; rewrite_position_deletes swaps
    // in ONE range-clustered delete file (reading only delete rows,
    // never data) and the oracle proves the read set is unchanged.
    Decl("q_cat_rpd", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_rpd"))
      spark.sql(s"CREATE TABLE $c.demo_rpd.cust (c_custkey BIGINT, c_acctbal DOUBLE) " +
        "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
      Tables(spark, dir, "customer").createOrReplaceTempView("customer_src")
      spark.sql(s"INSERT INTO $c.demo_rpd.cust SELECT c_custkey, c_acctbal FROM customer_src")
      (0 until 3).foreach(i =>
        spark.sql(s"DELETE FROM $c.demo_rpd.cust WHERE c_custkey % 10 = $i"))
      val cata = spark.sessionState.catalogManager.catalog(c)
        .asInstanceOf[graft.catalog.RelativeCatalog]
      val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("demo_rpd"), "cust")
      val tbl = cata.loadTable(ident).asInstanceOf[graft.catalog.GraftTable]
      val n = graft.catalog.Maintenance.rewritePositionDeletes(spark, tbl)
      require(n >= 3, s"expected trickle delete files to consolidate, got $n")
      val after = cata.loadTable(ident).asInstanceOf[graft.catalog.GraftTable]
      require(after.readSnapshot.get.deleteFiles.size == 1, "consolidation did not land")
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT COUNT(*) AS n, D4SUM(c_acctbal) AS total
           |FROM $c.demo_rpd.cust""".stripMargin))
    }, Some(
      """SELECT COUNT(*) AS n, D4SUM(c_acctbal) AS total
        |FROM customer WHERE c_custkey % 10 NOT IN (0, 1, 2)""".stripMargin)),

    // Views (C10): persisted through the V2 ViewCatalog API (Spark
    // 4.1's CREATE VIEW DDL only routes to the session catalog, so the
    // SQL surface is API-driven here); the stored definition is loaded
    // back and executed.
    Decl("q_cat_view", (spark, dir) => {
      import org.apache.spark.sql.connector.catalog.{Identifier, ViewInfo}
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_vw"))
      spark.sql(s"CREATE TABLE $c.demo_vw.nat (n_nationkey INT, n_name STRING, n_regionkey INT)")
      Tables(spark, dir, "nation").createOrReplaceTempView("nation_src")
      spark.sql(s"INSERT INTO $c.demo_vw.nat SELECT * FROM nation_src")
      val cata = spark.sessionState.catalogManager.catalog(c)
        .asInstanceOf[graft.catalog.RelativeCatalog]
      val ident = Identifier.of(Array("demo_vw"), "big_regions")
      val sql =
        s"""SELECT n_regionkey, COUNT(*) AS n FROM $c.demo_vw.nat
           |GROUP BY n_regionkey
           |ORDER BY n_regionkey ASC NULLS FIRST, n ASC NULLS FIRST""".stripMargin
      if (!cata.viewExists(ident))
        cata.createView(new ViewInfo(ident, sql, c, Array("demo_vw"),
          spark.sql(sql).schema, Array("n_regionkey", "n"),
          Array.empty[String], Array.empty[String],
          new java.util.HashMap[String, String]()))
      spark.sql(cata.loadView(ident).query())
    }, Some(
      """SELECT n_regionkey, COUNT(*) AS n FROM nation GROUP BY n_regionkey
        |ORDER BY n_regionkey ASC NULLS FIRST, n ASC NULLS FIRST""".stripMargin)),

    // The same view surface through pure SQL DDL — CREATE OR REPLACE
    // VIEW / SELECT-by-name route through GraftExtensions into the V2
    // ViewCatalog (Spark 4.1 alone rejects both with
    // MISSING_CATALOG_ABILITY.VIEWS; ref JdbcRelativeCatalog.java:
    // 476-547 makes view DDL a catalog op). The read goes through the
    // resolution rule, so this oracles the full parse→create→resolve
    // loop, not just the API.
    Decl("q_cat_view_sql", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_vsql"))
      spark.sql(s"CREATE TABLE $c.demo_vsql.nat (n_nationkey INT, n_name STRING, n_regionkey INT)")
      Tables(spark, dir, "nation").createOrReplaceTempView("nation_vsql_src")
      spark.sql(s"INSERT INTO $c.demo_vsql.nat SELECT * FROM nation_vsql_src")
      spark.sql(
        s"""CREATE OR REPLACE VIEW $c.demo_vsql.region_counts (region_key, n) AS
           |SELECT n_regionkey, COUNT(*) FROM $c.demo_vsql.nat
           |GROUP BY n_regionkey""".stripMargin)
      spark.sql(
        s"""SELECT region_key, n FROM $c.demo_vsql.region_counts
           |ORDER BY region_key ASC NULLS FIRST, n ASC NULLS FIRST""".stripMargin)
    }, Some(
      """SELECT n_regionkey AS region_key, COUNT(*) AS n
        |FROM nation GROUP BY n_regionkey
        |ORDER BY region_key ASC NULLS FIRST, n ASC NULLS FIRST""".stripMargin)),

    // Merge-on-read UPDATE via DELTA writes: the touched rows become
    // position deletes + new-version rows; no data file is rewritten
    // (CatalogSpec asserts byte-identity; this verifies the merged
    // read: data minus deletes plus new versions).
    Decl("q_cat_update_mor", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_umor"))
      spark.sql(
        s"""CREATE TABLE $c.demo_umor.cust (c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE)
           |TBLPROPERTIES ('write.update.mode'='merge-on-read')""".stripMargin)
      Tables(spark, dir, "customer").createOrReplaceTempView("customer_src")
      spark.sql(s"INSERT INTO $c.demo_umor.cust SELECT c_custkey, c_mktsegment, c_acctbal FROM customer_src")
      spark.sql(s"UPDATE $c.demo_umor.cust SET c_mktsegment = 'CAPPED', c_acctbal = 0.0 WHERE c_acctbal < 0")
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT c_mktsegment, COUNT(*) AS n,
           |  D4SUM(c_acctbal) AS bal
           |FROM $c.demo_umor.cust
           |GROUP BY c_mktsegment
           |ORDER BY c_mktsegment ASC NULLS FIRST""".stripMargin))
    }, Some(
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  D4SUM(c_acctbal) AS bal
        |FROM (SELECT c_custkey,
        |        CASE WHEN c_acctbal < 0 THEN 'CAPPED' ELSE c_mktsegment END AS c_mktsegment,
        |        CASE WHEN c_acctbal < 0 THEN 0.0 ELSE c_acctbal END AS c_acctbal
        |      FROM customer)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment ASC NULLS FIRST""".stripMargin)),

    // Merge-on-read MERGE (upsert) via DELTA writes: matched rows turn
    // into delete+insert pairs, unmatched source rows append — the
    // format-v2 CDC economics (O(changed rows), never a file rewrite).
    Decl("q_cat_merge_mor", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_mmor"))
      spark.sql(
        s"""CREATE TABLE $c.demo_mmor.nat (n_nationkey INT, n_name STRING)
           |TBLPROPERTIES ('write.merge.mode'='merge-on-read')""".stripMargin)
      Tables(spark, dir, "nation").createOrReplaceTempView("nation_src")
      spark.sql(s"INSERT INTO $c.demo_mmor.nat SELECT n_nationkey, n_name FROM nation_src WHERE n_nationkey < 20")
      spark.sql(
        s"""MERGE INTO $c.demo_mmor.nat t
           |USING (SELECT n_nationkey, n_name FROM nation_src WHERE n_nationkey >= 15) s
           |ON t.n_nationkey = s.n_nationkey
           |WHEN MATCHED THEN UPDATE SET n_name = CONCAT('UP_', s.n_name)
           |WHEN NOT MATCHED THEN INSERT (n_nationkey, n_name) VALUES (s.n_nationkey, s.n_name)""".stripMargin)
      spark.sql(
        s"""SELECT n_nationkey, n_name FROM $c.demo_mmor.nat
           |ORDER BY n_nationkey ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
    }, Some(
      """SELECT n_nationkey,
        |  CASE WHEN n_nationkey >= 15 AND n_nationkey < 20 THEN 'UP_' || n_name
        |       ELSE n_name END AS n_name
        |FROM nation
        |ORDER BY n_nationkey ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)),

    // Streaming table tail: readStream over the snapshot chain —
    // each append commit becomes a micro-batch (offsets = commit
    // sequence numbers, exactly-once replay from metadata). The
    // memory-sink contents after two waves must equal the batch read.
    Decl("q_str_tablesource", (spark, dir) => {
      import org.apache.spark.sql.functions.col
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_tail"))
      spark.sql(s"CREATE TABLE $c.demo_tail.reg (r_regionkey INT, r_name STRING)")
      Tables(spark, dir, "region").createOrReplaceTempView("region_src")
      spark.sql(s"INSERT INTO $c.demo_tail.reg SELECT * FROM region_src WHERE r_regionkey < 2")
      val name = s"graft_tail_${dirTag(dir)}"
      val q = spark.readStream.table(s"$c.demo_tail.reg")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      val out = try {
        q.processAllAvailable()
        spark.sql(s"INSERT INTO $c.demo_tail.reg SELECT * FROM region_src WHERE r_regionkey >= 2")
        q.processAllAvailable()
        spark.table(name).localCheckpoint()
      } finally {
        q.stop()
        graft.streaming.Hygiene.unload(q.runId)
        spark.catalog.dropTempView(name)
      }
      out.orderBy(col("r_regionkey").asc_nulls_first, col("r_name").asc_nulls_first)
    }, Some(
      """SELECT r_regionkey, r_name FROM region
        |ORDER BY r_regionkey ASC NULLS FIRST, r_name ASC NULLS FIRST""".stripMargin)),

    // Fresh-start genesis admission control: an AGED table (history
    // expired to one snapshot) owes its entire retained state to a new
    // stream — (seq, fileIdx) offsets drain it as bounded micro-batches
    // under max-rows-per-trigger instead of one unbounded catch-up
    // batch (the 100 TB cold-start path). The row REQUIRES the drain
    // to arrive rate-limited (>= 3 non-empty batches), then oracles
    // content exactness against the batch read.
    Decl("q_str_genesis", (spark, dir) => {
      import org.apache.spark.sql.functions.col
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_gen"))
      spark.sql(s"CREATE TABLE $c.demo_gen.nat (n_nationkey INT, n_name STRING)")
      Tables(spark, dir, "nation").createOrReplaceTempView("nation_src")
      (0 until 5).foreach(i =>
        spark.sql(s"INSERT INTO $c.demo_gen.nat SELECT n_nationkey, n_name " +
          s"FROM nation_src WHERE n_nationkey % 5 = $i"))
      spark.sql(s"CALL $c.system.expire_snapshots(tbl => 'demo_gen.nat', keep_last => 1)")
      val name = s"graft_gen_${dirTag(dir)}"
      val q = spark.readStream
        .option("max-rows-per-trigger", "5")
        .table(s"$c.demo_gen.nat")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      val out = try {
        q.processAllAvailable()
        val fed = q.recentProgress.count(_.numInputRows > 0)
        require(fed >= 3, s"genesis state arrived in $fed batch(es) — not rate-limited")
        spark.table(name).localCheckpoint()
      } finally {
        q.stop()
        graft.streaming.Hygiene.unload(q.runId)
        spark.catalog.dropTempView(name)
      }
      out.orderBy(col("n_nationkey").asc_nulls_first, col("n_name").asc_nulls_first)
    }, Some(
      """SELECT n_nationkey, n_name FROM nation
        |ORDER BY n_nationkey ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)),

    // CDC fresh-start genesis admission control: the SAME aged-table
    // catch-up as q_str_genesis but through the CHANGELOG source —
    // a fresh graft-cdc stream owes the whole retained state as
    // inserts, and under max-rows-per-trigger it must arrive as
    // bounded file-granular slices ({"seq":N,"idx":K} offsets), never
    // one unbounded genesis batch. The row REQUIRES the rate limit
    // held (>= 3 non-empty batches, each within the cap), then
    // oracles content exactness: every surviving row exactly once,
    // insert-tagged.
    Decl("q_str_cdcgenesis", (spark, dir) => {
      import org.apache.spark.sql.functions.col
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_cgen"))
      spark.sql(s"CREATE TABLE $c.demo_cgen.nat (n_nationkey INT, n_name STRING)")
      Tables(spark, dir, "nation").createOrReplaceTempView("cgen_nation_src")
      (0 until 5).foreach(i =>
        spark.sql(s"INSERT INTO $c.demo_cgen.nat SELECT n_nationkey, n_name " +
          s"FROM cgen_nation_src WHERE n_nationkey % 5 = $i"))
      spark.sql(s"CALL $c.system.expire_snapshots(tbl => 'demo_cgen.nat', keep_last => 1)")
      val name = s"graft_cgen_${dirTag(dir)}"
      val q = spark.readStream.format("graft-cdc")
        .option("table", s"$c.demo_cgen.nat")
        .option("max-rows-per-trigger", "5")
        .load()
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      val out = try {
        q.processAllAvailable()
        val fed = q.recentProgress.filter(_.numInputRows > 0)
        require(fed.length >= 3,
          s"CDC genesis state arrived in ${fed.length} batch(es) — not rate-limited")
        require(fed.forall(_.numInputRows <= 5),
          s"a CDC genesis batch exceeded the rows cap: ${fed.map(_.numInputRows).mkString(",")}")
        spark.table(name).localCheckpoint()
      } finally {
        q.stop()
        graft.streaming.Hygiene.unload(q.runId)
        spark.catalog.dropTempView(name)
      }
      out.select(col("n_nationkey"), col("n_name"), col("_change_type"))
        .orderBy(col("n_nationkey").asc_nulls_first, col("n_name").asc_nulls_first)
    }, Some(
      """SELECT n_nationkey, n_name, 'insert' AS _change_type FROM nation
        |ORDER BY n_nationkey ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)),

    // Oversized-append admission control: ONE append commit whose
    // added file set exceeds max-files-per-trigger must drain as
    // file-granular slices ({"seq":N,"idx":K,"unit":"added"} offsets)
    // — the "someone lands a 10 TB backfill as one commit on a tailed
    // table" path. The row REQUIRES the commit was really one snapshot
    // and that it arrived split (>= 5 non-empty batches incl. the
    // seed), then oracles content exactness against the batch read.
    Decl("q_str_oversized", (spark, dir) => {
      import org.apache.spark.sql.functions.col
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_osz"))
      spark.sql(s"CREATE TABLE $c.demo_osz.cust (c_custkey BIGINT, c_mktsegment STRING)")
      spark.sql(s"INSERT INTO $c.demo_osz.cust VALUES (-1, 'seed')")
      val name = s"graft_osz_${dirTag(dir)}"
      val q = spark.readStream
        .option("max-files-per-trigger", "2")
        .table(s"$c.demo_osz.cust")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      val out = try {
        q.processAllAvailable() // the 1-file seed
        Tables(spark, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
          .filter(col("c_custkey") % 10 === 0)
          .repartition(8)
          .writeTo(s"$c.demo_osz.cust").append() // ONE commit, 8 files
        require(spark.table(s"$c.demo_osz.`cust$$snapshots`").count() == 2,
          "setup: the 8-file backfill must be ONE commit")
        q.processAllAvailable()
        val fed = q.recentProgress.count(_.numInputRows > 0)
        require(fed >= 5,
          s"oversized append arrived in $fed batch(es) — not split at file granularity")
        spark.table(name).localCheckpoint()
      } finally {
        q.stop()
        graft.streaming.Hygiene.unload(q.runId)
        spark.catalog.dropTempView(name)
      }
      out.orderBy(col("c_custkey").asc_nulls_first, col("c_mktsegment").asc_nulls_first)
    }, Some(
      """SELECT c_custkey, c_mktsegment FROM (
        |  SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT -1, 'seed')
        |ORDER BY c_custkey ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin)),

    // The CDC twin of q_str_oversized: the same one-commit 8-file
    // backfill landing in a tailed table's CHANGELOG must drain as
    // bounded insert slices ({"seq":N,"idx":K,"unit":"added"} offsets)
    // under max-rows-per-trigger — never one unbounded CDC batch. The
    // row REQUIRES the commit was really one snapshot and the rate
    // limit held (>= 5 non-empty batches incl. the seed's genesis,
    // each within the cap), then oracles content exactness.
    Decl("q_str_cdcoversized", (spark, dir) => {
      import org.apache.spark.sql.functions.col
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_cosz"))
      spark.sql(s"CREATE TABLE $c.demo_cosz.cust (c_custkey BIGINT, c_mktsegment STRING)")
      spark.sql(s"INSERT INTO $c.demo_cosz.cust VALUES (-1, 'seed')")
      val name = s"graft_cosz_${dirTag(dir)}"
      // a cap below one file's rows at every tested sf: each slice is
      // then 1-2 files, so the drain splits at sf0.001 through sf0.1
      val q = spark.readStream.format("graft-cdc")
        .option("table", s"$c.demo_cosz.cust")
        .option("max-rows-per-trigger", "4")
        .load()
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      val out = try {
        q.processAllAvailable() // the 1-row seed (genesis unit)
        Tables(spark, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
          .filter(col("c_custkey") % 10 === 0)
          .repartition(8)
          .writeTo(s"$c.demo_cosz.cust").append() // ONE commit, 8 files
        require(spark.table(s"$c.demo_cosz.`cust$$snapshots`").count() == 2,
          "setup: the 8-file backfill must be ONE commit")
        q.processAllAvailable()
        val backfill = spark.table(s"$c.demo_cosz.cust").count() - 1
        val fed = q.recentProgress.filter(_.numInputRows > 0)
        require(fed.length >= 5,
          s"oversized CDC append arrived in ${fed.length} batch(es) — not split")
        // scale-robust bound: every batch is a strict subset of the
        // backfill (at sf >= 0.1 one FILE already exceeds the rows cap
        // and the progress guarantee admits it whole, so the cap
        // itself is not the per-batch ceiling — file granularity is)
        require(fed.forall(_.numInputRows < backfill),
          s"a CDC batch carried the whole backfill: ${fed.map(_.numInputRows).mkString(",")}")
        spark.table(name).localCheckpoint()
      } finally {
        q.stop()
        graft.streaming.Hygiene.unload(q.runId)
        spark.catalog.dropTempView(name)
      }
      out.select(col("c_custkey"), col("c_mktsegment"), col("_change_type"))
        .orderBy(col("c_custkey").asc_nulls_first, col("c_mktsegment").asc_nulls_first)
    }, Some(
      """SELECT c_custkey, c_mktsegment, 'insert' AS _change_type FROM (
        |  SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT -1, 'seed')
        |ORDER BY c_custkey ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin)),

    // Row-level (COW) CDC admission control under split-row-level:
    // a copy-on-write DELETE's change rows are a PLAN, not files —
    // the one CDC unit that stays unbounded by default. With the
    // opt-in, the source materializes the diff once under the
    // stream's checkpoint and drains it as {"seq","idx","unit":"rows"}
    // slices. The row REQUIRES the drain arrived rate-limited (>= 3
    // non-empty batches, each within the cap), then oracles content
    // exactness: exactly the deleted keys, delete-tagged.
    Decl("q_str_cdcrowsplit", (spark, dir) => {
      import org.apache.spark.sql.functions.col
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_crls"))
      spark.sql(s"CREATE TABLE $c.demo_crls.nat (n_nationkey INT, n_name STRING)")
      Tables(spark, dir, "nation").createOrReplaceTempView("crls_nation_src")
      spark.sql(s"INSERT INTO $c.demo_crls.nat SELECT n_nationkey, n_name " +
        "FROM crls_nation_src")                                     // seq 1
      spark.sql(s"DELETE FROM $c.demo_crls.nat WHERE n_nationkey < 15") // seq 2, COW
      val name = s"graft_crls_${dirTag(dir)}"
      val q = spark.readStream.format("graft-cdc")
        .option("table", s"$c.demo_crls.nat")
        .option("start-seq", "1")
        .option("max-rows-per-trigger", "5")
        .option("split-row-level", "true")
        .load()
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      val out = try {
        q.processAllAvailable()
        val fed = q.recentProgress.filter(_.numInputRows > 0)
        require(fed.length >= 3,
          s"COW delete arrived in ${fed.length} batch(es) — not row-split")
        require(fed.forall(_.numInputRows <= 5),
          s"a batch exceeded the rows cap: ${fed.map(_.numInputRows).mkString(",")}")
        spark.table(name).localCheckpoint()
      } finally {
        q.stop()
        graft.streaming.Hygiene.unload(q.runId)
        spark.catalog.dropTempView(name)
      }
      out.select(col("n_nationkey"), col("n_name"), col("_change_type"))
        .orderBy(col("n_nationkey").asc_nulls_first, col("n_name").asc_nulls_first)
    }, Some(
      """SELECT n_nationkey, n_name, 'delete' AS _change_type FROM nation
        |WHERE n_nationkey < 15
        |ORDER BY n_nationkey ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)),

    // MOR row-level CDC admission: a position-delete file's manifest
    // record count IS its delete-row count, so an over-cap MOR
    // position-delete commit slices by its added DELETE-FILE set
    // ({"seq","idx","unit":"deleted"} offsets) — bounded batches with
    // NO materialization spill and NO opt-in, unlike the COW twin
    // (q_str_cdcrowsplit). The row REQUIRES the drain arrived
    // rate-limited (>= 3 bounded delete batches), then oracles content
    // exactness: exactly the deleted keys, delete-tagged.
    Decl("q_str_cdcmorsplit", (spark, dir) => {
      import org.apache.spark.sql.functions.col
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_cms"))
      spark.sql(s"CREATE TABLE $c.demo_cms.nat (n_nationkey INT, n_name STRING) " +
        "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
      // range-clustered insert: keys < 15 land in exactly 3 of the 5
      // files, so the MOR delete references 3 parent files
      Tables(spark, dir, "nation")
        .select(col("n_nationkey").cast("int"), col("n_name"))
        .repartitionByRange(5, col("n_nationkey"))
        .writeTo(s"$c.demo_cms.nat").append()                        // seq 1
      // the delete writer range-clusters entries by referenced file;
      // AQE would coalesce this 15-row shuffle to ONE delete file and
      // leave nothing to slice — disable coalescing for the DELETE only
      withConf(spark, "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
        spark.sql(s"DELETE FROM $c.demo_cms.nat WHERE n_nationkey < 15") // seq 2, MOR
      }
      require(spark.table(s"$c.demo_cms.`nat$$snapshots`").count() == 2,
        "setup: insert + ONE MOR delete commit")
      val name = s"graft_cms_${dirTag(dir)}"
      val q = spark.readStream.format("graft-cdc")
        .option("table", s"$c.demo_cms.nat")
        .option("start-seq", "1")
        .option("max-rows-per-trigger", "5")
        .load()
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      val out = try {
        q.processAllAvailable()
        val fed = q.recentProgress.filter(_.numInputRows > 0)
        require(fed.length >= 3,
          s"MOR delete arrived in ${fed.length} batch(es) — not delete-file-split")
        require(fed.forall(_.numInputRows <= 5),
          s"a batch exceeded the rows cap: ${fed.map(_.numInputRows).mkString(",")}")
        spark.table(name).localCheckpoint()
      } finally {
        q.stop()
        graft.streaming.Hygiene.unload(q.runId)
        spark.catalog.dropTempView(name)
      }
      out.select(col("n_nationkey"), col("n_name"), col("_change_type"))
        .orderBy(col("n_nationkey").asc_nulls_first, col("n_name").asc_nulls_first)
    }, Some(
      """SELECT n_nationkey, n_name, 'delete' AS _change_type FROM nation
        |WHERE n_nationkey < 15
        |ORDER BY n_nationkey ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)),

    // Streaming update images: compute-updates + identifier-columns
    // refines each micro-batch's identifier-keyed delete+insert pairs
    // into update_preimage/update_postimage — the streaming spelling
    // of create_changelog_view(compute_updates), same kernel as
    // q_cat_changelog_updates. A COW UPDATE rewrites whole files, so
    // the oracle also proves carry-over cancellation: untouched
    // rewritten rows (keys >= 10) must NOT surface.
    Decl("q_str_cdcupdates", (spark, dir) => {
      import org.apache.spark.sql.functions.col
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_cup"))
      spark.sql(s"CREATE TABLE $c.demo_cup.nat (n_nationkey INT, n_name STRING)")
      Tables(spark, dir, "nation").createOrReplaceTempView("cup_nation_src")
      spark.sql(s"INSERT INTO $c.demo_cup.nat SELECT n_nationkey, n_name " +
        "FROM cup_nation_src")                                        // seq 1
      spark.sql(s"UPDATE $c.demo_cup.nat SET n_name = concat(n_name, '_U') " +
        "WHERE n_nationkey < 10")                                     // seq 2, COW
      val name = s"graft_cup_${dirTag(dir)}"
      val q = spark.readStream.format("graft-cdc")
        .option("table", s"$c.demo_cup.nat")
        .option("start-seq", "1")
        .option("compute-updates", "true")
        .option("identifier-columns", "n_nationkey")
        .load()
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      val out = try {
        q.processAllAvailable()
        spark.table(name).localCheckpoint()
      } finally {
        q.stop()
        graft.streaming.Hygiene.unload(q.runId)
        spark.catalog.dropTempView(name)
      }
      out.select(col("n_nationkey"), col("n_name"), col("_change_type"))
        .orderBy(col("n_nationkey").asc_nulls_first, col("n_name").asc_nulls_first,
          col("_change_type").asc_nulls_first)
    }, Some(
      """SELECT n_nationkey, n_name, _change_type FROM (
        |  SELECT n_nationkey, n_name, 'update_preimage' AS _change_type
        |  FROM nation WHERE n_nationkey < 10
        |  UNION ALL
        |  SELECT n_nationkey, n_name || '_U', 'update_postimage'
        |  FROM nation WHERE n_nationkey < 10)
        |ORDER BY n_nationkey ASC NULLS FIRST, n_name ASC NULLS FIRST,
        |  _change_type ASC NULLS FIRST""".stripMargin)),

    // Incremental append scan: only rows added AFTER the start
    // snapshot reach the scan (O(increment), not O(table)) — the
    // "process what's new since yesterday" read a 100 TB ingest
    // pipeline runs daily.
    Decl("q_scan_incremental", (spark, dir) => {
      import org.apache.spark.sql.functions.col
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_inc"))
      spark.sql(s"CREATE TABLE $c.demo_inc.cust (c_custkey BIGINT, c_mktsegment STRING)")
      Tables(spark, dir, "customer").createOrReplaceTempView("customer_src")
      spark.sql(s"INSERT INTO $c.demo_inc.cust SELECT c_custkey, c_mktsegment FROM customer_src WHERE c_custkey % 3 = 0")
      spark.sql(s"INSERT INTO $c.demo_inc.cust SELECT c_custkey, c_mktsegment FROM customer_src WHERE c_custkey % 3 = 1")
      spark.sql(s"INSERT INTO $c.demo_inc.cust SELECT c_custkey, c_mktsegment FROM customer_src WHERE c_custkey % 3 = 2")
      spark.read.option("start-snapshot-id", "1").table(s"$c.demo_inc.cust")
        .orderBy(col("c_custkey").asc_nulls_first, col("c_mktsegment").asc_nulls_first)
    }, Some(
      """SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 3 IN (1, 2)
        |ORDER BY c_custkey ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin)),

    // Changelog (CDC) read: `t$changes` emits insert/delete rows per
    // commit in a snapshot range — appends stream O(added files),
    // row-level commits diff adjacent states, compactions emit nothing.
    Decl("q_scan_changelog", (spark, dir) => {
      import org.apache.spark.sql.functions.col
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_cdc"))
      spark.sql(s"CREATE TABLE $c.demo_cdc.reg (r_regionkey INT, r_name STRING)")
      Tables(spark, dir, "region").createOrReplaceTempView("region_src")
      spark.sql(s"INSERT INTO $c.demo_cdc.reg SELECT * FROM region_src")           // seq 1
      spark.sql(s"DELETE FROM $c.demo_cdc.reg WHERE r_regionkey >= 3")             // seq 2
      spark.sql(s"INSERT INTO $c.demo_cdc.reg SELECT * FROM region_src WHERE r_regionkey = 4") // seq 3
      spark.read.option("start-snapshot-id", "1")
        .table(s"$c.demo_cdc.`reg$$changes`")
        .orderBy(col("_change_ordinal").asc_nulls_first, col("_change_type").asc_nulls_first,
          col("r_regionkey").asc_nulls_first, col("r_name").asc_nulls_first)
    }, Some(
      """SELECT r_regionkey, r_name, 'delete' AS _change_type, 1 AS _change_ordinal
        |FROM region WHERE r_regionkey >= 3
        |UNION ALL
        |SELECT r_regionkey, r_name, 'insert', 2 FROM region WHERE r_regionkey = 4
        |ORDER BY _change_ordinal ASC NULLS FIRST, _change_type ASC NULLS FIRST,
        |  r_regionkey ASC NULLS FIRST, r_name ASC NULLS FIRST""".stripMargin)),

    // Incremental view maintenance off the changelog: a downstream
    // aggregate is kept current by applying $changes deltas to the
    // LAST materialized state instead of re-aggregating the table —
    // THE cost model that makes a 100 TB rollup maintainable (work is
    // O(changed rows), the base is never re-scanned). Base = the
    // aggregate at the pre-DML snapshot (time travel); deltas = the
    // signed changelog rows across a DELETE + INSERT; maintained =
    // base ⊕ delta with groups dying when their count reaches zero.
    // The oracle recomputes the FINAL state from scratch — so this
    // row is green only if incremental == full recompute, exactly.
    Decl("q_cat_ivm", (spark, dir) => {
      import org.apache.spark.sql.functions._
      import graft.Dsl.{d4, dec}
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_ivm"))
      spark.sql(s"CREATE TABLE $c.demo_ivm.ord (o_orderstatus STRING, o_totalprice DOUBLE)")
      Tables(spark, dir, "orders").createOrReplaceTempView("orders_src")
      spark.sql(s"INSERT INTO $c.demo_ivm.ord SELECT o_orderstatus, o_totalprice FROM orders_src")
      spark.sql(s"DELETE FROM $c.demo_ivm.ord WHERE o_totalprice < 50000.0")
      spark.sql(s"INSERT INTO $c.demo_ivm.ord " +
        "SELECT o_orderstatus, o_totalprice + 1000.0 FROM orders_src WHERE o_totalprice < 10000.0")
      val base = spark.sql(s"SELECT * FROM $c.demo_ivm.ord VERSION AS OF 1")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n0"), sum(dec(col("o_totalprice"))).as("t0"))
      val delta = spark.read.option("start-snapshot-id", "1")
        .table(s"$c.demo_ivm.`ord$$changes`")
        .withColumn("sgn",
          when(col("_change_type") === "insert", 1L).otherwise(-1L))
        .groupBy(col("o_orderstatus"))
        .agg(sum(col("sgn")).as("nd"),
          sum(col("sgn") * dec(col("o_totalprice"))).as("td"))
      base.join(delta, Seq("o_orderstatus"), "full_outer")
        .select(col("o_orderstatus"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("nd"), lit(0L))).as("n"),
          (coalesce(col("t0"), lit(BigDecimal(0)).cast("decimal(18,6)")) +
            coalesce(col("td"), lit(BigDecimal(0)).cast("decimal(18,6)"))).as("t"))
        .filter(col("n") > 0)
        .select(col("o_orderstatus"), col("n"), d4(col("t")).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first)
    }, Some(
      """WITH final AS (
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |  WHERE o_totalprice >= 50000.0
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice + 1000.0 FROM orders
        |  WHERE o_totalprice < 10000.0)
        |SELECT o_orderstatus, COUNT(*) AS n, D4SUM(o_totalprice) AS total
        |FROM final GROUP BY o_orderstatus
        |ORDER BY o_orderstatus ASC NULLS FIRST""".stripMargin)),

    // Storage-partitioned join: both tables identity-partitioned on
    // the join key, their MergeOnReadScans report
    // KeyGroupedPartitioning (KeyGrouping), and the join aligns the key
    // groups with NO exchange (CatalogSpec and MergeOnReadScanSpec
    // assert the plan; this query verifies the aligned read returns
    // exact results). Materialized eagerly while the SPJ confs are on.
    Decl("q_join_spj", (spark, dir) => {
      import org.apache.spark.sql.functions.col
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_spj"))
      spark.sql(s"CREATE TABLE $c.demo_spj.cust (c_nationkey INT, c_custkey BIGINT, c_acctbal DOUBLE) PARTITIONED BY (c_nationkey)")
      spark.sql(s"CREATE TABLE $c.demo_spj.nat (n_nationkey INT, n_name STRING) PARTITIONED BY (n_nationkey)")
      Tables(spark, dir, "customer").createOrReplaceTempView("customer_src")
      Tables(spark, dir, "nation").createOrReplaceTempView("nation_src")
      spark.sql(s"INSERT INTO $c.demo_spj.cust SELECT c_nationkey, c_custkey, c_acctbal FROM customer_src")
      spark.sql(s"INSERT INTO $c.demo_spj.nat SELECT n_nationkey, n_name FROM nation_src")
      withConf(spark, "spark.sql.sources.v2.bucketing.enabled" -> "true",
          graft.catalog.KeyGrouping.PreserveGroupingKey -> "true",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        spark.sql(graft.Dsl.expandOracle(
          s"""SELECT n.n_name, COUNT(*) AS n_cust,
             |  D4SUM(c.c_acctbal) AS sum_bal
             |FROM $c.demo_spj.cust c JOIN $c.demo_spj.nat n
             |  ON c.c_nationkey = n.n_nationkey
             |GROUP BY n.n_name""".stripMargin))
          .localCheckpoint()
          .orderBy(col("n_name").asc_nulls_first)
      }
    }, Some(
      """SELECT n_name, COUNT(*) AS n_cust,
        |  D4SUM(c_acctbal) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name ASC NULLS FIRST""".stripMargin)),

    // INSERT OVERWRITE (truncate-capability write path).
    Decl("q_sink_overwrite", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_ow"))
      spark.sql(s"CREATE TABLE $c.demo_ow.reg (r_regionkey INT, r_name STRING)")
      Tables(spark, dir, "region").createOrReplaceTempView("region_src")
      spark.sql(s"INSERT INTO $c.demo_ow.reg SELECT * FROM region_src")
      spark.sql(s"INSERT OVERWRITE $c.demo_ow.reg SELECT * FROM region_src WHERE r_regionkey < 2")
      spark.sql(
        s"""SELECT r_regionkey, r_name FROM $c.demo_ow.reg
           |ORDER BY r_regionkey ASC NULLS FIRST, r_name ASC NULLS FIRST""".stripMargin)
    }, Some(
      """SELECT r_regionkey, r_name FROM region WHERE r_regionkey < 2
        |ORDER BY r_regionkey ASC NULLS FIRST, r_name ASC NULLS FIRST""".stripMargin)),

    // DYNAMIC partition overwrite: only the partitions present in the
    // incoming data are replaced; everything else carries over.
    Decl("q_sink_overwrite_dyn", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_dyn"))
      spark.sql(s"CREATE TABLE $c.demo_dyn.cust (c_custkey BIGINT, c_nationkey INT, c_acctbal DOUBLE) " +
        "PARTITIONED BY (c_nationkey)")
      Tables(spark, dir, "customer").createOrReplaceTempView("customer_src")
      spark.sql(s"INSERT INTO $c.demo_dyn.cust SELECT c_custkey, c_nationkey, c_acctbal FROM customer_src")
      // rewrite nations 0..4 with zeroed balances; 5..24 untouched
      withConf(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
        spark.sql(s"""INSERT OVERWRITE $c.demo_dyn.cust
          |SELECT c_custkey, c_nationkey, 0.0 FROM customer_src WHERE c_nationkey < 5""".stripMargin)
      }
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT c_nationkey, COUNT(*) AS n,
           |  D2(SUM(CAST(c_acctbal AS DECIMAL(18,6)))) AS total
           |FROM $c.demo_dyn.cust
           |GROUP BY c_nationkey
           |ORDER BY c_nationkey ASC NULLS FIRST""".stripMargin))
    }, Some(
      """SELECT c_nationkey, COUNT(*) AS n,
        |  D2(SUM(CAST(CASE WHEN c_nationkey < 5 THEN 0.0 ELSE c_acctbal END
        |    AS DECIMAL(18,6)))) AS total
        |FROM customer
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey ASC NULLS FIRST""".stripMargin)),

    // Write-audit-publish over branch refs (README.md:67-103 `refs`):
    // even orderkeys land on main; odd ones are appended to an `audit`
    // BRANCH (invisible to main readers), audited via
    // VERSION AS OF 'audit', then published with fast_forward. The
    // result proves all three read states: the branch saw everything,
    // main pre-publish saw only the base, main post-publish sees all.
    Decl("q_scan_branch", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_br"))
      spark.sql(s"CREATE TABLE $c.demo_br.o (o_orderkey BIGINT, o_totalprice DOUBLE)")
      Tables(spark, dir, "orders").createOrReplaceTempView("orders_src")
      spark.sql(s"INSERT INTO $c.demo_br.o SELECT o_orderkey, o_totalprice FROM orders_src WHERE o_orderkey % 2 = 0")
      spark.sql(s"CALL $c.system.create_ref(tbl => 'demo_br.o', ref => 'audit', ref_type => 'branch')")
      val cata = spark.sessionState.catalogManager.catalog(c)
        .asInstanceOf[graft.catalog.RelativeCatalog]
      val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("demo_br"), "o")
      def t = cata.loadTable(ident).asInstanceOf[graft.catalog.GraftTable]
      graft.catalog.Maintenance.appendToBranch(t,
        spark.sql("SELECT o_orderkey, o_totalprice FROM orders_src WHERE o_orderkey % 2 = 1"),
        "audit")
      val mainBefore = spark.sql(s"SELECT COUNT(*) FROM $c.demo_br.o").collect()(0).getLong(0)
      val branchSees = spark.sql(s"SELECT COUNT(*) FROM $c.demo_br.o VERSION AS OF 'audit'")
        .collect()(0).getLong(0)
      spark.sql(s"CALL $c.system.fast_forward(tbl => 'demo_br.o', branch => 'audit')")
      spark.sql(s"CALL $c.system.drop_ref(tbl => 'demo_br.o', ref => 'audit')")
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT COUNT(*) AS n_published, $mainBefore AS n_main_before,
           |  $branchSees AS n_branch,
           |  D2(SUM(CAST(o_totalprice AS DECIMAL(18,6)))) AS total
           |FROM $c.demo_br.o""".stripMargin))
    }, Some(
      """SELECT COUNT(*) AS n_published,
        |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0) AS n_main_before,
        |  COUNT(*) AS n_branch,
        |  D2(SUM(CAST(o_totalprice AS DECIMAL(18,6)))) AS total
        |FROM orders""".stripMargin)),

    // Snapshot TAGS (refs with ref_type=tag): an immutable label
    // pinning one snapshot forever. Thirds of orders land in three
    // appends; the first snapshot is tagged 'v1'; expire_snapshots
    // (keep_last=1) then reclaims the untagged middle snapshot — but
    // the tag pins its snapshot through expiry, so VERSION AS OF 'v1'
    // still reads the exact base state while main sees all three
    // appends. (Writes to a tag are refused — MaintSpec pins that tags
    // stay immutable rather than silently becoming branches.)
    Decl("q_cat_tag", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_tag"))
      spark.sql(s"CREATE TABLE $c.demo_tag.o (o_orderkey BIGINT, o_totalprice DOUBLE)")
      Tables(spark, dir, "orders").createOrReplaceTempView("orders_src")
      spark.sql(s"INSERT INTO $c.demo_tag.o SELECT o_orderkey, o_totalprice FROM orders_src WHERE o_orderkey % 3 = 0")
      spark.sql(s"CALL $c.system.create_ref(tbl => 'demo_tag.o', ref => 'v1', ref_type => 'tag')")
      spark.sql(s"INSERT INTO $c.demo_tag.o SELECT o_orderkey, o_totalprice FROM orders_src WHERE o_orderkey % 3 = 1")
      spark.sql(s"INSERT INTO $c.demo_tag.o SELECT o_orderkey, o_totalprice FROM orders_src WHERE o_orderkey % 3 = 2")
      spark.sql(s"CALL $c.system.expire_snapshots(tbl => 'demo_tag.o', keep_last => 1)")
      val tagged = spark.sql(
        s"SELECT COUNT(*) FROM $c.demo_tag.o VERSION AS OF 'v1'").collect()(0).getLong(0)
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT $tagged AS n_tagged, COUNT(*) AS n_main,
           |  D2(SUM(CAST(o_totalprice AS DECIMAL(18,6)))) AS total
           |FROM $c.demo_tag.o""".stripMargin))
    }, Some(
      """SELECT
        |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 0) AS n_tagged,
        |  COUNT(*) AS n_main,
        |  D2(SUM(CAST(o_totalprice AS DECIMAL(18,6)))) AS total
        |FROM orders""".stripMargin)),

    // months(ts)-partitioned scan: hidden partitioning over a time
    // transform; the ts predicate prunes whole month files (the
    // fanout writer made them partition-local with tight ts bounds).
    Decl("q_scan_prune_months", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_pm"))
      spark.sql(s"CREATE TABLE $c.demo_pm.ord (o_orderkey BIGINT, o_orderdate TIMESTAMP, o_totalprice DOUBLE) " +
        "PARTITIONED BY (months(o_orderdate))")
      Tables(spark, dir, "orders").createOrReplaceTempView("orders_src")
      spark.sql(s"INSERT INTO $c.demo_pm.ord SELECT o_orderkey, o_orderdate, o_totalprice FROM orders_src")
      spark.sql(
        s"""SELECT COUNT(*) AS n,
           |  CAST(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS total
           |FROM $c.demo_pm.ord
           |WHERE o_orderdate >= TIMESTAMP '1995-06-01 00:00:00'
           |  AND o_orderdate < TIMESTAMP '1995-09-01 00:00:00'""".stripMargin)
    }, Some(
      """SELECT COUNT(*) AS n,
        |  CAST(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-06-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1995-09-01 00:00:00'""".stripMargin)),

    // Three-clause MERGE incl. WHEN NOT MATCHED BY SOURCE (full sync
    // semantics: update hits, insert new, delete rows gone from the
    // source — the CDC snapshot-sync shape).
    Decl("q_cat_merge_nmbs", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_nmbs"))
      spark.sql(s"CREATE TABLE $c.demo_nmbs.cust (c_custkey BIGINT, c_acctbal DOUBLE)")
      Tables(spark, dir, "customer").createOrReplaceTempView("customer_src")
      spark.sql(s"INSERT INTO $c.demo_nmbs.cust SELECT c_custkey, c_acctbal FROM customer_src WHERE c_custkey % 3 <> 0")
      spark.sql(
        s"""MERGE INTO $c.demo_nmbs.cust t
           |USING (SELECT c_custkey, c_acctbal FROM customer_src WHERE c_custkey % 2 = 0) s
           |ON t.c_custkey = s.c_custkey
           |WHEN MATCHED THEN UPDATE SET c_acctbal = s.c_acctbal + 500
           |WHEN NOT MATCHED THEN INSERT (c_custkey, c_acctbal) VALUES (s.c_custkey, s.c_acctbal)
           |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      spark.sql(
        s"""SELECT COUNT(*) AS n,
           |  CAST(CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS total
           |FROM $c.demo_nmbs.cust""".stripMargin)
    }, Some(
      """SELECT COUNT(*) AS n,
        |  CAST(CAST(ROUND(SUM(CAST(CASE WHEN c_custkey % 3 <> 0 THEN c_acctbal + 500
        |                           ELSE c_acctbal END AS DECIMAL(18,6))), 2)
        |    AS DECIMAL(18,2)) AS DOUBLE) AS total
        |FROM customer WHERE c_custkey % 2 = 0""".stripMargin)),

    // Bin-pack compaction: only undersized files rewritten (the
    // O(small-files) maintenance pass); data must read back identical.
    Decl("q_cat_compact_binpack", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_bp"))
      spark.sql(s"CREATE TABLE $c.demo_bp.nat (n_nationkey INT, n_name STRING)")
      Tables(spark, dir, "nation").createOrReplaceTempView("nation_src")
      (1 to 3).foreach(_ =>
        spark.sql(s"INSERT INTO $c.demo_bp.nat SELECT n_nationkey, n_name FROM nation_src"))
      val cata = spark.sessionState.catalogManager.catalog(c)
        .asInstanceOf[graft.catalog.RelativeCatalog]
      val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("demo_bp"), "nat")
      val tbl = cata.loadTable(ident).asInstanceOf[graft.catalog.GraftTable]
      graft.catalog.Maintenance.compactBinpack(spark, tbl, targetSizeBytes = 512L << 20)
      spark.sql(
        s"""SELECT n_nationkey, COUNT(*) AS n FROM $c.demo_bp.nat
           |GROUP BY n_nationkey
           |ORDER BY n_nationkey ASC NULLS FIRST""".stripMargin)
    }, Some(
      """SELECT n_nationkey, CAST(3 AS BIGINT) AS n FROM nation
        |ORDER BY n_nationkey ASC NULLS FIRST""".stripMargin)),

    // Atomic CTAS (StagingTableCatalog): table + data published in one
    // metadata rename; the oracle checks the staged write round-trips.
    Decl("q_cat_ctas", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_ctas"))
      Tables(spark, dir, "part").createOrReplaceTempView("part_src")
      spark.sql(
        s"""CREATE TABLE $c.demo_ctas.p AS
           |SELECT p_brand, COUNT(*) AS n,
           |  CAST(ROUND(SUM(CAST(p_retailprice AS DECIMAL(18,6))), 4) AS DECIMAL(18,4)) AS total
           |FROM part_src GROUP BY p_brand""".stripMargin)
      spark.sql(
        s"""SELECT p_brand, n, CAST(total AS DOUBLE) AS total FROM $c.demo_ctas.p
           |ORDER BY p_brand ASC NULLS FIRST""".stripMargin)
    }, Some(
      """SELECT p_brand, COUNT(*) AS n,
        |  D4SUM(p_retailprice) AS total
        |FROM part GROUP BY p_brand
        |ORDER BY p_brand ASC NULLS FIRST""".stripMargin)),

    // Atomic RTAS: one OCC commit swaps data AND schema (fresh field
    // ids); reads must see only the replacement.
    Decl("q_cat_rtas", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_rtas"))
      Tables(spark, dir, "supplier").createOrReplaceTempView("supplier_src")
      spark.sql(s"CREATE TABLE $c.demo_rtas.s AS SELECT s_suppkey, s_name FROM supplier_src")
      spark.sql(
        s"""CREATE OR REPLACE TABLE $c.demo_rtas.s AS
           |SELECT s_nationkey, COUNT(*) AS n FROM supplier_src GROUP BY s_nationkey""".stripMargin)
      spark.sql(
        s"""SELECT s_nationkey, n FROM $c.demo_rtas.s
           |ORDER BY s_nationkey ASC NULLS FIRST""".stripMargin)
    }, Some(
      """SELECT s_nationkey, COUNT(*) AS n FROM supplier GROUP BY s_nationkey
        |ORDER BY s_nationkey ASC NULLS FIRST""".stripMargin)),

    // Snapshot rollback: a bad batch lands, rollbackTo moves main back
    // (metadata-only) — reads must see exactly the pre-batch state.
    Decl("q_cat_rollback", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_rb"))
      spark.sql(s"CREATE TABLE $c.demo_rb.o (o_orderkey BIGINT, o_totalprice DOUBLE)")
      Tables(spark, dir, "orders").createOrReplaceTempView("orders_src")
      spark.sql(s"INSERT INTO $c.demo_rb.o SELECT o_orderkey, o_totalprice FROM orders_src WHERE o_orderkey % 2 = 0")
      val cata = spark.sessionState.catalogManager.catalog(c)
        .asInstanceOf[graft.catalog.RelativeCatalog]
      val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("demo_rb"), "o")
      val good = cata.loadTable(ident).asInstanceOf[graft.catalog.GraftTable]
        .meta.currentSnapshotId.get
      spark.sql(s"INSERT INTO $c.demo_rb.o SELECT o_orderkey + 1000000000, 0.0 FROM orders_src")
      graft.catalog.Maintenance.rollbackTo(
        cata.loadTable(ident).asInstanceOf[graft.catalog.GraftTable].ops, good)
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT COUNT(*) AS n,
           |  D4SUM(o_totalprice) AS total
           |FROM $c.demo_rb.o""".stripMargin))
    }, Some(
      """SELECT COUNT(*) AS n,
        |  D4SUM(o_totalprice) AS total
        |FROM orders WHERE o_orderkey % 2 = 0""".stripMargin)),

    // Z-order compaction: rewrite the table clustered on the
    // interleaved (o_custkey, o_orderkey) Morton curve so multi-dim
    // range predicates hit few files (min/max bounds become tight on
    // BOTH dims — ZOrderSpec pins the file-skipping win). The oracle's
    // job here: the reorganization must be read-invisible.
    Decl("q_cat_zorder", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_zo"))
      spark.sql(s"CREATE TABLE $c.demo_zo.ord (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
      Tables(spark, dir, "orders").createOrReplaceTempView("orders_src")
      spark.sql(s"INSERT INTO $c.demo_zo.ord SELECT o_orderkey, o_custkey, o_totalprice FROM orders_src")
      val cata = spark.sessionState.catalogManager.catalog(c)
        .asInstanceOf[graft.catalog.RelativeCatalog]
      val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("demo_zo"), "ord")
      graft.catalog.Maintenance.compactZOrder(spark,
        cata.loadTable(ident).asInstanceOf[graft.catalog.GraftTable],
        Seq("o_custkey", "o_orderkey"), targetFiles = 8)
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT COUNT(*) AS n, D4SUM(o_totalprice) AS total
           |FROM $c.demo_zo.ord
           |WHERE o_custkey BETWEEN 100 AND 300 AND o_orderkey BETWEEN 2000 AND 9000""".stripMargin))
    }, Some(
      """SELECT COUNT(*) AS n, D4SUM(o_totalprice) AS total
        |FROM orders
        |WHERE o_custkey BETWEEN 100 AND 300 AND o_orderkey BETWEEN 2000 AND 9000""".stripMargin)),

    // Cherry-pick: roll back past an append, then re-apply exactly that
    // snapshot's files onto the new head — the recovery path for "the
    // rollback threw out one good commit too many". Final state must
    // equal the pre-rollback state.
    Decl("q_cat_cherrypick", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_chp"))
      spark.sql(s"CREATE TABLE $c.demo_chp.o (o_orderkey BIGINT, o_totalprice DOUBLE)")
      Tables(spark, dir, "orders").createOrReplaceTempView("orders_src")
      spark.sql(s"INSERT INTO $c.demo_chp.o SELECT o_orderkey, o_totalprice FROM orders_src WHERE o_orderkey % 2 = 0")
      val cata = spark.sessionState.catalogManager.catalog(c)
        .asInstanceOf[graft.catalog.RelativeCatalog]
      val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("demo_chp"), "o")
      def t = cata.loadTable(ident).asInstanceOf[graft.catalog.GraftTable]
      val base = t.meta.currentSnapshotId.get
      spark.sql(s"INSERT INTO $c.demo_chp.o SELECT o_orderkey, o_totalprice FROM orders_src WHERE o_orderkey % 2 = 1")
      val picked = t.meta.currentSnapshotId.get
      graft.catalog.Maintenance.rollbackTo(t.ops, base)
      graft.catalog.Maintenance.cherryPick(t, picked)
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT COUNT(*) AS n, D4SUM(o_totalprice) AS total
           |FROM $c.demo_chp.o""".stripMargin))
    }, Some(
      """SELECT COUNT(*) AS n, D4SUM(o_totalprice) AS total
        |FROM orders""".stripMargin)),

    // Orphan-file removal: a stray parquet (crashed writer debris) in
    // the table's data dir is invisible to reads but blocks cheap
    // storage reclamation; remove_orphan_files deletes exactly the
    // unreferenced file — every snapshot-referenced file survives and
    // the read set is untouched.
    Decl("q_cat_orphans", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_orp"))
      spark.sql(s"CREATE TABLE $c.demo_orp.reg (r_regionkey INT, r_name STRING)")
      Tables(spark, dir, "region").createOrReplaceTempView("region_src")
      spark.sql(s"INSERT INTO $c.demo_orp.reg SELECT * FROM region_src")
      val cata = spark.sessionState.catalogManager.catalog(c)
        .asInstanceOf[graft.catalog.RelativeCatalog]
      val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("demo_orp"), "reg")
      val t = cata.loadTable(ident).asInstanceOf[graft.catalog.GraftTable]
      val tableAbs = graft.meta.RelPaths.absolutize(t.ops.warehouse, t.meta.location)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$tableAbs/data/orphan-debris.parquet"),
        Array[Byte](0, 1, 2, 3))
      val removed = graft.catalog.Maintenance.removeOrphanFiles(
        t.ops, olderThanMs = System.currentTimeMillis() + 60000)
      spark.sql(
        s"""SELECT $removed AS n_removed, COUNT(*) AS n
           |FROM $c.demo_orp.reg""".stripMargin)
    }, Some(
      """SELECT 1 AS n_removed, COUNT(*) AS n FROM region""".stripMargin)),

    // Warehouse relocation e2e — the reference's raison d'être
    // (README.md:112-121): every stored path is warehouse-RELATIVE,
    // so `mv`-ing the whole warehouse and re-rooting the catalog must
    // leave every table readable with ZERO metadata rewrites. The
    // table carries a MOR position-delete commit before the move, so
    // the file paths embedded inside delete manifests relocate too;
    // the moved-from catalog root ceases to exist (nothing may fall
    // back to an absolute path captured pre-move). Build + `mv` are
    // MEMOIZED per (dir, JVM): repeat calls — bench's warm-up + timed
    // runs — re-register the re-rooted catalog and pay only the
    // read-through-re-rooted-metadata cost, which is the thing the
    // reference cares about; `mv` + rewrite is setup, not the query.
    Decl("q_cat_relocate", (spark, dir) => {
      val whB = relocCache.computeIfAbsent("path:" + dir, _ => {
        val run = s"${dirTag(dir)}r${relocN.incrementAndGet()}"
        val whA = s"/tmp/graft_wh_rel_a_$run"
        val b = s"/tmp/graft_wh_rel_b_$run"
        // a previous JVM's run may have left either root behind (the
        // counter restarts per process) — the move target must not exist
        Seq(whA, b).foreach(rmTree)
        val ca = withGraftCatalog(spark, s"grela$run", warehouse = Some(whA))
        spark.sql(s"CREATE NAMESPACE $ca.rel")
        spark.sql(s"CREATE TABLE $ca.rel.o (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE) " +
          "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
        Tables(spark, dir, "orders").createOrReplaceTempView("orders_src")
        spark.sql(s"INSERT INTO $ca.rel.o SELECT o_orderkey, o_custkey, o_totalprice FROM orders_src")
        spark.sql(s"DELETE FROM $ca.rel.o WHERE o_orderkey % 10 = 0")
        // the relocation is a directory rename — no file is rewritten
        java.nio.file.Files.move(
          java.nio.file.Paths.get(whA), java.nio.file.Paths.get(b))
        b
      })
      val cb = withGraftCatalog(spark, s"grelb${whB.split('_').last}", warehouse = Some(whB))
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
           |  D4SUM(o_totalprice) AS total
           |FROM $cb.rel.o""".stripMargin))
    }, Some(
      """SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
        |  D4SUM(o_totalprice) AS total
        |FROM orders WHERE o_orderkey % 10 <> 0""".stripMargin)),

    // JDBC-catalog relocation: the pointer rows store
    // warehouse-RELATIVE metadata locations (ref
    // JdbcRelativeCatalog.java — the point of the whole design), so
    // moving the warehouse needs NO row updates: keep the same pointer
    // DB, `mv` the directory, and register a catalog rooted at the new
    // path. The old root ceases to exist, so nothing may resolve
    // through a pre-move absolute path.
    Decl("q_cat_relocate_jdbc", (spark, dir) => {
      // build + mv memoized per (dir, JVM) — see q_cat_relocate; the
      // cached value packs "catalogName|whB|dbPath"
      val cached = relocCache.computeIfAbsent("jdbc:" + dir, _ => {
        val run = s"${dirTag(dir)}j${relocN.incrementAndGet()}"
        val whA = s"/tmp/graft_wh_relj_a_$run"
        val whB = s"/tmp/graft_wh_relj_b_$run"
        val db = s"/tmp/graft_db_relj_$run"
        Seq(whA, whB, db).foreach(rmTree)
        val ca = withGraftCatalog(spark, s"grelja$run", warehouse = Some(whA),
          jdbcUri = Some(s"jdbc:derby:$db;create=true"))
        spark.sql(s"CREATE NAMESPACE $ca.rel")
        spark.sql(s"CREATE TABLE $ca.rel.c (c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE)")
        Tables(spark, dir, "customer").createOrReplaceTempView("customer_src")
        spark.sql(s"INSERT INTO $ca.rel.c " +
          "SELECT c_custkey, c_mktsegment, c_acctbal FROM customer_src")
        java.nio.file.Files.move(
          java.nio.file.Paths.get(whA), java.nio.file.Paths.get(whB))
        s"$ca|$whB|$db"
      })
      val Array(ca, whB, db) = cached.split('|')
      // rows are keyed by the CATALOG NAME (ref JdbcRelativeCatalog
      // .java:89), so the re-rooted catalog re-registers the SAME name
      // over the new path — a fresh session supplies the fresh
      // CatalogManager a real re-deployment would have
      val reRooted = spark.newSession()
      withGraftCatalog(reRooted, ca, warehouse = Some(whB), jdbcUri = Some(s"jdbc:derby:$db"))
      reRooted.sql(graft.Dsl.expandOracle(
        s"""SELECT c_mktsegment, COUNT(*) AS n, D4SUM(c_acctbal) AS total
           |FROM $ca.rel.c
           |GROUP BY c_mktsegment
           |ORDER BY c_mktsegment ASC NULLS FIRST""".stripMargin))
    }, Some(
      """SELECT c_mktsegment, COUNT(*) AS n, D4SUM(c_acctbal) AS total
        |FROM customer
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment ASC NULLS FIRST""".stripMargin)),

    // rollback_to_timestamp: "make the table read as it did at 9am" —
    // resolved through the snapshot LOG (what `main` pointed at), the
    // recovery spelling when all you know is when things were still
    // good, not which snapshot id that was.
    Decl("q_cat_rollback_ts", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_rts"))
      spark.sql(s"CREATE TABLE $c.demo_rts.o (o_orderkey BIGINT, o_totalprice DOUBLE)")
      Tables(spark, dir, "orders").createOrReplaceTempView("orders_src")
      spark.sql(s"INSERT INTO $c.demo_rts.o SELECT o_orderkey, o_totalprice FROM orders_src WHERE o_orderkey % 2 = 0")
      val cata = spark.sessionState.catalogManager.catalog(c)
        .asInstanceOf[graft.catalog.RelativeCatalog]
      val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("demo_rts"), "o")
      val t1 = cata.loadTable(ident).asInstanceOf[graft.catalog.GraftTable]
        .meta.currentSnapshot.get.timestampMs
      // the second commit must land in a LATER millisecond than t1 or
      // "current at t1" is ambiguous
      while (System.currentTimeMillis() <= t1) Thread.sleep(1)
      spark.sql(s"INSERT INTO $c.demo_rts.o SELECT o_orderkey + 1000000000, 0.0 FROM orders_src")
      spark.sql(s"CALL $c.system.rollback_to_timestamp(tbl => 'demo_rts.o', timestamp_ms => $t1)")
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT COUNT(*) AS n, D4SUM(o_totalprice) AS total
           |FROM $c.demo_rts.o""".stripMargin))
    }, Some(
      """SELECT COUNT(*) AS n, D4SUM(o_totalprice) AS total
        |FROM orders WHERE o_orderkey % 2 = 0""".stripMargin)),

    // ancestors_of: the lineage chain as a queryable result set. The
    // invariants are order-free (the compare sorts rows): 3 appends →
    // 3 ancestors, exactly one root (no parent), and every non-root's
    // parent_id resolves to another chain member (2 links in a
    // 3-chain) — a broken or cyclic walk can't fake all three.
    Decl("q_cat_ancestors", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_anc"))
      spark.sql(s"CREATE TABLE $c.demo_anc.n (n_nationkey INT, n_name STRING)")
      Tables(spark, dir, "nation").createOrReplaceTempView("nation_src")
      spark.sql(s"INSERT INTO $c.demo_anc.n SELECT n_nationkey, n_name FROM nation_src WHERE n_nationkey % 3 = 0")
      spark.sql(s"INSERT INTO $c.demo_anc.n SELECT n_nationkey, n_name FROM nation_src WHERE n_nationkey % 3 = 1")
      spark.sql(s"INSERT INTO $c.demo_anc.n SELECT n_nationkey, n_name FROM nation_src WHERE n_nationkey % 3 = 2")
      // the chain is metadata-scale (retained-snapshot count) — compute
      // the invariants driver-side like the other catalog queries; a
      // self-join of the CALL's CommandResult view trips Spark's
      // attribute dedup inside a scalar subquery
      val rows = spark.sql(s"CALL $c.system.ancestors_of(tbl => 'demo_anc.n')").collect()
      val ids = rows.map(_.getLong(0)).toSet
      val nLinked = rows.count(r => !r.isNullAt(1) && ids(r.getLong(1)))
      val nAppends = rows.count(_.getString(3) == "append")
      val nRoots = rows.count(_.isNullAt(1))
      spark.sql(
        s"""SELECT CAST(${rows.length} AS BIGINT) AS n_ancestors,
           |  CAST($nAppends AS BIGINT) AS n_appends,
           |  CAST($nRoots AS BIGINT) AS n_roots,
           |  CAST($nLinked AS BIGINT) AS n_linked""".stripMargin)
    }, Some(
      """SELECT CAST(3 AS BIGINT) AS n_ancestors, CAST(3 AS BIGINT) AS n_appends,
        |  CAST(1 AS BIGINT) AS n_roots, CAST(2 AS BIGINT) AS n_linked""".stripMargin)),

    // add_files: zero-copy import of externally produced parquet into
    // a partitioned table — one metadata commit, row counts and
    // partition values from parquet FOOTERS (the data is never
    // scanned, so onboarding 100 TB costs O(files) footer reads, not a
    // rewrite). The oracle then reads the table: import must be
    // exact-once and partition metadata correct (a wrong partition
    // stamp would mis-prune the grouped read).
    Decl("q_cat_addfiles", (spark, dir) => {
      import org.apache.spark.sql.functions.col
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_addf"))
      spark.sql(s"CREATE TABLE $c.demo_addf.cust (c_custkey BIGINT, c_nationkey INT, c_acctbal DOUBLE) " +
        "PARTITIONED BY (c_nationkey)")
      val staging = s"staging_addf_${runN.incrementAndGet()}"
      val stagingAbs = s"/tmp/graft_wh_$c/$staging"
      rmTree(stagingAbs)
      val src = Tables(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      // partition-clustered files, full schema in every file (hive-style
      // column-dropping layouts are rejected by design — the scan reads
      // files by schema, and a footer can't bound a missing column)
      for (nk <- 0 until 5)
        src.filter(col("c_nationkey") === nk).coalesce(1)
          .write.mode("append").parquet(stagingAbs)
      spark.sql(s"CALL $c.system.add_files(tbl => 'demo_addf.cust', source_dir => '$staging')")
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT c_nationkey, COUNT(*) AS n, D4SUM(c_acctbal) AS total
           |FROM $c.demo_addf.cust
           |WHERE c_nationkey BETWEEN 1 AND 3
           |GROUP BY c_nationkey
           |ORDER BY c_nationkey ASC NULLS FIRST""".stripMargin))
    }, Some(
      """SELECT c_nationkey, COUNT(*) AS n, D4SUM(c_acctbal) AS total
        |FROM customer WHERE c_nationkey BETWEEN 1 AND 3
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey ASC NULLS FIRST""".stripMargin)),

    // migrate: one-call adoption of a raw parquet directory — schema
    // inferred from footers, table created, files imported zero-copy.
    // The oracle reads the same fixture directly: migrate must be a
    // pure re-housing, never a rewrite.
    Decl("q_cat_migrate", (spark, dir) => {
      import org.apache.spark.sql.functions.col
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_mig"))
      val staging = s"landing_mig_${runN.incrementAndGet()}"
      val stagingAbs = s"/tmp/graft_wh_$c/$staging"
      rmTree(stagingAbs)
      Tables(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
        .coalesce(2).write.parquet(stagingAbs)
      spark.sql(s"CALL $c.system.migrate(source_dir => '$staging', tbl => 'demo_mig.supp')")
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT s_nationkey, COUNT(*) AS n, D4SUM(s_acctbal) AS total
           |FROM $c.demo_mig.supp
           |GROUP BY s_nationkey
           |ORDER BY s_nationkey ASC NULLS FIRST""".stripMargin))
    }, Some(
      """SELECT s_nationkey, COUNT(*) AS n, D4SUM(s_acctbal) AS total
        |FROM supplier
        |GROUP BY s_nationkey
        |ORDER BY s_nationkey ASC NULLS FIRST""".stripMargin)),

    // register_table: the catalog DATABASE is lost, the warehouse
    // directory survived — a fresh JDBC catalog over the same files
    // re-adopts the table from its latest metadata file with one
    // pointer INSERT (nothing on disk is rewritten), and reads resume.
    Decl("q_cat_register", (spark, dir) => {
      val run = s"${dirTag(dir)}r${runN.incrementAndGet()}"
      val wh = s"/tmp/graft_wh_reg_$run"
      val dbA = s"/tmp/graft_db_rega_$run"
      val dbB = s"/tmp/graft_db_regb_$run"
      Seq(wh, dbA, dbB).foreach(rmTree)
      val ca = withGraftCatalog(spark, s"grega$run", warehouse = Some(wh),
        jdbcUri = Some(s"jdbc:derby:$dbA;create=true"))
      spark.sql(s"CREATE NAMESPACE $ca.reg")
      spark.sql(s"CREATE TABLE $ca.reg.s (s_suppkey BIGINT, s_nationkey INT, s_acctbal DOUBLE)")
      Tables(spark, dir, "supplier").createOrReplaceTempView("supplier_src")
      spark.sql(s"INSERT INTO $ca.reg.s SELECT s_suppkey, s_nationkey, s_acctbal FROM supplier_src")
      // catalog-db loss: the NEW catalog knows nothing; the latest
      // metadata file is found by its version-counter filename
      val latest = new java.io.File(s"$wh/reg/s/metadata").listFiles()
        .map(_.getName).filter(_.endsWith(".metadata.json"))
        .maxBy(n => n.stripPrefix("v").takeWhile(_.isDigit).toInt)
      val cb = withGraftCatalog(spark, s"gregb$run", warehouse = Some(wh),
        jdbcUri = Some(s"jdbc:derby:$dbB;create=true"))
      spark.sql(s"CREATE NAMESPACE $cb.reg")
      spark.sql(s"CALL $cb.system.register_table(tbl => 'reg.s', " +
        s"metadata_location => 'reg/s/metadata/$latest')")
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT s_nationkey, COUNT(*) AS n, D4SUM(s_acctbal) AS total
           |FROM $cb.reg.s
           |GROUP BY s_nationkey
           |ORDER BY s_nationkey ASC NULLS FIRST""".stripMargin))
    }, Some(
      """SELECT s_nationkey, COUNT(*) AS n, D4SUM(s_acctbal) AS total
        |FROM supplier
        |GROUP BY s_nationkey
        |ORDER BY s_nationkey ASC NULLS FIRST""".stripMargin)),

    // snapshot: the zero-copy dev copy. The copy diverges (an extra
    // insert lands only in it) and the SOURCE must read back
    // byte-identical — the isolation contract a team cloning a 100 TB
    // table for experiments actually depends on (no bytes copied:
    // the copy's initial snapshot references the source's files).
    Decl("q_cat_snapshot", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_snp"))
      spark.sql(s"CREATE TABLE $c.demo_snp.src (p_partkey BIGINT, p_retailprice DOUBLE)")
      Tables(spark, dir, "part").createOrReplaceTempView("part_src")
      spark.sql(s"INSERT INTO $c.demo_snp.src SELECT p_partkey, p_retailprice FROM part_src")
      spark.sql(s"CALL $c.system.snapshot(source_tbl => 'demo_snp.src', tbl => 'demo_snp.dev')")
      // the copy diverges; the source must not see it
      spark.sql(s"INSERT INTO $c.demo_snp.dev SELECT p_partkey + 5000000, 1.0 FROM part_src WHERE p_partkey % 100 = 0")
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT
           |  (SELECT COUNT(*) FROM $c.demo_snp.src) AS src_n,
           |  (SELECT D4SUM(p_retailprice) FROM $c.demo_snp.src) AS src_total,
           |  (SELECT COUNT(*) FROM $c.demo_snp.dev) AS dev_n""".stripMargin))
    }, Some(
      """SELECT
        |  (SELECT COUNT(*) FROM part) AS src_n,
        |  (SELECT D4SUM(p_retailprice) FROM part) AS src_total,
        |  (SELECT COUNT(*) + COUNT(*) FILTER (WHERE p_partkey % 100 = 0) FROM part) AS dev_n""".stripMargin)),

    // write-audit-publish by id: the odd half of orders is written
    // STAGED under spark.wap.id (invisible — the count the auditor's
    // gate sees is still the even half), audited via VERSION AS OF,
    // then published exactly-once by CALL publish_changes. The oracle
    // pins all three states cross-engine: visible-while-staged count,
    // audited staged count, and the published total.
    Decl("q_cat_wap", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_wap"))
      spark.sql(s"CREATE TABLE $c.demo_wap.t (o_orderkey BIGINT, o_totalprice DOUBLE) " +
        "TBLPROPERTIES ('write.wap.enabled'='true')")
      Tables(spark, dir, "orders").createOrReplaceTempView("orders_wap")
      spark.sql(s"INSERT INTO $c.demo_wap.t " +
        "SELECT o_orderkey, o_totalprice FROM orders_wap WHERE o_orderkey % 2 = 0")
      spark.conf.set("spark.wap.id", "w-load")
      val (stagedVisible, auditN) = try {
        spark.sql(s"INSERT INTO $c.demo_wap.t " +
          "SELECT o_orderkey, o_totalprice FROM orders_wap WHERE o_orderkey % 2 = 1")
        val vis = spark.sql(s"SELECT COUNT(*) FROM $c.demo_wap.t")
          .collect()(0).getLong(0)
        val sid = spark.sql(s"CALL $c.system.publish_changes(" +
          "tbl => 'demo_wap.t', wap_id => 'w-load')").collect()(0).getLong(0)
        // the auditor's read of the staged snapshot, pre-publish shape
        // (VERSION AS OF the staged id still resolves after publish)
        val audit = spark.sql(
          s"SELECT COUNT(*) FROM $c.demo_wap.t VERSION AS OF $sid")
          .collect()(0).getLong(0)
        (vis, audit)
      } finally spark.conf.unset("spark.wap.id")
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT
           |  CAST($stagedVisible AS BIGINT) AS staged_visible,
           |  CAST($auditN AS BIGINT) AS audited_n,
           |  (SELECT COUNT(*) FROM $c.demo_wap.t) AS published_n,
           |  (SELECT D4SUM(o_totalprice) FROM $c.demo_wap.t) AS total""".stripMargin))
    }, Some(
      """SELECT
        |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0) AS staged_visible,
        |  (SELECT COUNT(*) FROM orders) AS audited_n,
        |  (SELECT COUNT(*) FROM orders) AS published_n,
        |  (SELECT D4SUM(o_totalprice) FROM orders) AS total""".stripMargin)),

    // create_changelog_view: the CDC read packaged as a named view so
    // downstream SQL (audits, incremental syncs) can query per-commit
    // insert/delete rows without knowing the `t$changes` spelling.
    // Same ground truth as q_scan_changelog, driven through the view.
    Decl("q_cat_changelog_view", (spark, dir) => {
      import org.apache.spark.sql.functions.col
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_clv"))
      spark.sql(s"CREATE TABLE $c.demo_clv.reg (r_regionkey INT, r_name STRING)")
      Tables(spark, dir, "region").createOrReplaceTempView("region_src")
      spark.sql(s"INSERT INTO $c.demo_clv.reg SELECT * FROM region_src")           // seq 1
      spark.sql(s"DELETE FROM $c.demo_clv.reg WHERE r_regionkey >= 3")             // seq 2
      spark.sql(s"INSERT INTO $c.demo_clv.reg SELECT * FROM region_src WHERE r_regionkey = 4") // seq 3
      val view = s"clv_changes_${runN.incrementAndGet()}"
      spark.sql(s"CALL $c.system.create_changelog_view(tbl => 'demo_clv.reg', " +
        s"view_name => '$view', start_snapshot_id => 1)")
      spark.table(view)
        .orderBy(col("_change_ordinal").asc_nulls_first, col("_change_type").asc_nulls_first,
          col("r_regionkey").asc_nulls_first, col("r_name").asc_nulls_first)
    }, Some(
      """SELECT r_regionkey, r_name, 'delete' AS _change_type, 1 AS _change_ordinal
        |FROM region WHERE r_regionkey >= 3
        |UNION ALL
        |SELECT r_regionkey, r_name, 'insert', 2 FROM region WHERE r_regionkey = 4
        |ORDER BY _change_ordinal ASC NULLS FIRST, _change_type ASC NULLS FIRST,
        |  r_regionkey ASC NULLS FIRST, r_name ASC NULLS FIRST""".stripMargin)),

    // merge-schema ingest: an evolving pipeline appends a frame with a
    // column the table has never seen; the table follows metadata-only
    // (fresh field id, nullable) and pre-existing rows read NULL. The
    // oracle pins row counts and the new column's population/sum.
    Decl("q_cat_mergeschema", (spark, dir) => {
      import org.apache.spark.sql.functions.col
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_ms"))
      spark.sql(s"CREATE TABLE $c.demo_ms.o (o_orderkey BIGINT) " +
        "TBLPROPERTIES ('write.merge-schema'='true')")
      val src = Tables(spark, dir, "orders")
      src.filter(col("o_orderkey") % 2 === 0).select(col("o_orderkey"))
        .writeTo(s"$c.demo_ms.o").append()
      src.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"))
        .writeTo(s"$c.demo_ms.o").option("merge-schema", "true").append()
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT COUNT(*) AS n_all, COUNT(o_totalprice) AS n_priced,
           |  D4SUM(o_totalprice) AS total
           |FROM $c.demo_ms.o""".stripMargin))
    }, Some(
      """SELECT COUNT(*) AS n_all,
        |  COUNT(*) FILTER (WHERE o_orderkey % 2 = 1) AS n_priced,
        |  D4SUM(CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice END) AS total
        |FROM orders""".stripMargin)),

    // create_changelog_view(compute_updates): the per-commit
    // delete+insert pairs of an UPDATE refined into
    // update_preimage/update_postimage rows keyed by the identifier
    // column, with copy-on-write carry-over pairs cancelled first.
    // The oracle pins count AND value per image side: preimages carry
    // the OLD price, postimages the price after +1.
    Decl("q_cat_changelog_updates", (spark, dir) => {
      val c = withGraftCatalog(spark, s"graft${dirTag(dir)}", Some("demo_upd"))
      spark.sql(s"CREATE TABLE $c.demo_upd.p (p_partkey BIGINT, p_retailprice DOUBLE)")
      Tables(spark, dir, "part").createOrReplaceTempView("part_upd")
      spark.sql(s"INSERT INTO $c.demo_upd.p SELECT p_partkey, p_retailprice FROM part_upd")
      spark.sql(s"UPDATE $c.demo_upd.p SET p_retailprice = p_retailprice + 1 " +
        "WHERE p_partkey % 10 = 0")
      val view = s"upd_changes_${runN.incrementAndGet()}"
      spark.sql(s"CALL $c.system.create_changelog_view(tbl => 'demo_upd.p', " +
        s"view_name => '$view', start_snapshot_id => 1, identifier_columns => 'p_partkey')")
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT _change_type, COUNT(*) AS n, D4SUM(p_retailprice) AS total
           |FROM $view
           |GROUP BY _change_type
           |ORDER BY _change_type ASC NULLS FIRST""".stripMargin))
    }, Some(
      """SELECT 'update_postimage' AS _change_type, COUNT(*) AS n,
        |  D4SUM(p_retailprice + 1) AS total
        |FROM part WHERE p_partkey % 10 = 0
        |UNION ALL
        |SELECT 'update_preimage', COUNT(*), D4SUM(p_retailprice)
        |FROM part WHERE p_partkey % 10 = 0
        |ORDER BY _change_type ASC NULLS FIRST""".stripMargin)),
  )

  private val runN = new java.util.concurrent.atomic.AtomicInteger(0)

  private val relocN = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Built-and-moved relocation warehouses, one per (flavor, sf dir)
    * per JVM: the bench's repeat runs must time the re-rooted READ,
    * not the warehouse build. */
  private val relocCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
}
