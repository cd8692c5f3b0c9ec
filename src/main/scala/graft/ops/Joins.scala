package graft.ops

import graft.{Decl, Pack, Tables}
import graft.Dsl.{d4, dec, withConf}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators (SURVEY.md §2.2 "Joins").
  *
  * Scale notes (100 TB design):
  *  - equi joins rely on Catalyst/AQE to pick broadcast vs SMJ; dims
  *    (region/nation/customer at TPC-H ratios) broadcast automatically,
  *    `q_join_broadcast` pins the hint explicitly.
  *  - the theta join first shrinks the build side to its distinct key
  *    values (a few dozen rows) so the non-equi condition runs as a
  *    broadcast nested loop over a tiny side, never M×N shuffle.
  *  - the as-of join is the union+window formulation: one shuffle on
  *    the key, one sort, O(n) state — no per-row range probe. This is
  *    the plan that survives 1000 executors.
  *  - the interval join equi-buckets time so Spark gets a hash join on
  *    (bucket) with the exact overlap predicate applied residually —
  *    avoiding the quadratic cross product.
  */
object Joins extends Pack {

  private def lit1(c: String) = col(c)

  def decls: Seq[Decl] = Seq(

    Decl("q_join_inner", (spark, dir) => {
      val o = Tables(spark, dir, "orders")
      val c = Tables(spark, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "inner")
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"), col("o_totalprice"))
        .orderBy(col("o_orderkey").asc_nulls_first, col("o_custkey").asc_nulls_first,
          col("c_name").asc_nulls_first, col("o_totalprice").asc_nulls_first)
    }, Some(
      """SELECT o_orderkey, o_custkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey ASC NULLS FIRST, o_custkey ASC NULLS FIRST,
        |  c_name ASC NULLS FIRST, o_totalprice ASC NULLS FIRST""".stripMargin)),

    Decl("q_join_left", (spark, dir) => {
      val c = Tables(spark, dir, "customer")
      val o = Tables(spark, dir, "orders").filter(col("o_totalprice") > 200000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_custkey").asc_nulls_first, col("c_name").asc_nulls_first,
          col("o_orderkey").asc_nulls_first, col("o_totalprice").asc_nulls_first)
    }, Some(
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice
        |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 200000) o
        |  ON c_custkey = o_custkey
        |ORDER BY c_custkey ASC NULLS FIRST, c_name ASC NULLS FIRST,
        |  o_orderkey ASC NULLS FIRST, o_totalprice ASC NULLS FIRST""".stripMargin)),

    Decl("q_join_right", (spark, dir) => {
      val o = Tables(spark, dir, "orders").filter(col("o_totalprice") > 200000)
      val c = Tables(spark, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "right")
        .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_custkey").asc_nulls_first, col("o_orderkey").asc_nulls_first,
          col("o_totalprice").asc_nulls_first)
    }, Some(
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM (SELECT * FROM orders WHERE o_totalprice > 200000) o
        |  RIGHT JOIN customer ON o_custkey = c_custkey
        |ORDER BY c_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST,
        |  o_totalprice ASC NULLS FIRST""".stripMargin)),

    Decl("q_join_full", (spark, dir) => {
      val hi = Tables(spark, dir, "orders").filter(col("o_totalprice") > 250000)
        .select(col("o_custkey").as("k"), col("o_orderkey"))
      val poor = Tables(spark, dir, "customer").filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("ck"), col("c_name"))
      hi.join(poor, hi("k") === poor("ck"), "full")
        .select(col("k"), col("o_orderkey"), col("ck"), col("c_name"))
        .orderBy(col("k").asc_nulls_first, col("o_orderkey").asc_nulls_first,
          col("ck").asc_nulls_first, col("c_name").asc_nulls_first)
    }, Some(
      """SELECT k, o_orderkey, ck, c_name
        |FROM (SELECT o_custkey AS k, o_orderkey FROM orders WHERE o_totalprice > 250000) h
        |FULL JOIN (SELECT c_custkey AS ck, c_name FROM customer WHERE c_acctbal < 0) p
        |  ON k = ck
        |ORDER BY k ASC NULLS FIRST, o_orderkey ASC NULLS FIRST,
        |  ck ASC NULLS FIRST, c_name ASC NULLS FIRST""".stripMargin)),

    Decl("q_join_semi", (spark, dir) => {
      val c = Tables(spark, dir, "customer")
      val o = Tables(spark, dir, "orders").filter(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey").asc_nulls_first, col("c_name").asc_nulls_first)
    }, Some(
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey ASC NULLS FIRST, c_name ASC NULLS FIRST""".stripMargin)),

    Decl("q_join_anti", (spark, dir) => {
      val c = Tables(spark, dir, "customer")
      val o = Tables(spark, dir, "orders").filter(col("o_totalprice") > 300000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey").asc_nulls_first, col("c_name").asc_nulls_first)
    }, Some(
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey ASC NULLS FIRST, c_name ASC NULLS FIRST""".stripMargin)),

    Decl("q_join_cross", (spark, dir) => {
      val r = Tables(spark, dir, "region").select(col("r_name"))
      val s = Tables(spark, dir, "supplier").select(col("s_name"))
      r.crossJoin(s)
        .orderBy(col("r_name").asc_nulls_first, col("s_name").asc_nulls_first)
    }, Some(
      """SELECT r_name, s_name FROM region CROSS JOIN supplier
        |ORDER BY r_name ASC NULLS FIRST, s_name ASC NULLS FIRST""".stripMargin)),

    // Non-equi band join re-expressed as an equi-join on width-5
    // quantity buckets plus a residual predicate: each band
    // [p_size, p_size+5) overlaps at most two buckets, so the build
    // side is exploded to its bucket keys and the probe is a plain
    // hash join — no nested-loop, and the plan survives a build side
    // too large to broadcast (same trick as q_join_interval below).
    Decl("q_join_theta", (spark, dir) => {
      val sizes = Tables(spark, dir, "part").select(col("p_size")).distinct()
        .select(col("p_size"), explode(array(
          floor(col("p_size") / 5), floor(col("p_size") / 5) + 1)).as("qb"))
        .distinct()
      val li = Tables(spark, dir, "lineitem")
        .withColumn("qb", floor(col("l_quantity") / 5))
      li.join(broadcast(sizes), Seq("qb"))
        .filter(col("l_quantity") >= col("p_size") &&
          col("l_quantity") < col("p_size") + 5)
        .groupBy(col("p_size"))
        .agg(count(lit(1)).as("n_li"), d4(sum(dec(col("l_quantity")))).as("sum_qty"))
        .orderBy(col("p_size").asc_nulls_first)
    }, Some(
      """SELECT p_size, COUNT(*) AS n_li,
        |  D4SUM(l_quantity) AS sum_qty
        |FROM lineitem JOIN (SELECT DISTINCT p_size FROM part) p
        |  ON l_quantity >= p_size AND l_quantity < p_size + 5
        |GROUP BY p_size
        |ORDER BY p_size ASC NULLS FIRST""".stripMargin)),

    Decl("q_join_multi", (spark, dir) => {
      val r = Tables(spark, dir, "region")
      val n = Tables(spark, dir, "nation")
      val c = Tables(spark, dir, "customer")
      val o = Tables(spark, dir, "orders")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"),
          d4(sum(dec(col("o_totalprice")))).as("revenue"))
        .orderBy(col("r_name").asc_nulls_first)
    }, Some(
      """SELECT r_name, COUNT(*) AS n_orders,
        |  D4SUM(o_totalprice) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name
        |ORDER BY r_name ASC NULLS FIRST""".stripMargin)),

    Decl("q_join_broadcast", (spark, dir) => {
      val c = Tables(spark, dir, "customer")
      val n = Tables(spark, dir, "nation")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          d4(sum(dec(col("c_acctbal")))).as("sum_bal"))
        .orderBy(col("n_name").asc_nulls_first)
    }, Some(
      """SELECT n_name, COUNT(*) AS n_cust,
        |  D4SUM(c_acctbal) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name ASC NULLS FIRST""".stripMargin)),

    // Co-located join: both sides pre-partitioned on the join key with
    // the same partitioning, so the SMJ adds NO extra exchange (Spark
    // reuses the children's hash partitioning — verified: the plan has
    // only the two REPARTITION_BY_COL exchanges). At bench scale AQE
    // may still pick broadcast, which is also the right call. This is
    // the repartition/bucketing pattern for repeatedly-joined big
    // tables.
    Decl("q_join_colocated", (spark, dir) => {
      val li = Tables(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"))
        .repartition(col("l_orderkey"))
      val o = Tables(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .repartition(col("o_orderkey"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          d4(sum(dec(col("l_extendedprice")))).as("revenue"))
        .orderBy(col("o_orderpriority").asc_nulls_first)
    }, Some(
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  D4SUM(l_extendedprice) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority ASC NULLS FIRST""".stripMargin)),

    // As-of join, union+window formulation: emit signups and purchases
    // into one keyed stream, sort by (ts, kind) within user, and carry
    // the last-seen signup ts forward. One shuffle, one sort, O(1)
    // state per row — the 100 TB plan (no per-row range probe).
    Decl("q_join_asof", (spark, dir) => {
      val ev = Tables(spark, dir, "events")
      val sig = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), lit(0).as("kind"),
          lit(null).cast("bigint").as("event_id"), col("ts").as("sig_ts"))
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(1).as("kind"),
          col("event_id"), lit(null).cast("timestamp_ntz").as("sig_ts"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("kind").asc, col("event_id").asc_nulls_first)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sig.unionByName(pur)
        .withColumn("asof_signup_ts", last(col("sig_ts"), ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .select(col("event_id"), col("user_id"), col("ts"), col("asof_signup_ts"))
        .orderBy(col("event_id").asc_nulls_first, col("user_id").asc_nulls_first,
          col("ts").asc_nulls_first, col("asof_signup_ts").asc_nulls_first)
    }, Some(
      """SELECT p.event_id, p.user_id, p.ts,
        |  (SELECT MAX(s.ts) FROM events s
        |   WHERE s.event_type = 'signup' AND s.user_id = p.user_id
        |     AND s.ts <= p.ts) AS asof_signup_ts
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id ASC NULLS FIRST, p.user_id ASC NULLS FIRST,
        |  p.ts ASC NULLS FIRST, asof_signup_ts ASC NULLS FIRST""".stripMargin)),

    // Interval-overlap self join on 10-minute event windows. Spark side
    // equi-buckets time (explode each interval into the 10-min buckets
    // it spans) so the join is hash-partitioned on bucket; the exact
    // overlap predicate runs residually and duplicates from multi-bucket
    // spans are dropped before aggregation.
    Decl("q_join_interval", (spark, dir) => {
      val winUs = 600000000L // 10 min in µs
      val ev = Tables(spark, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
        .select(col("event_id"), col("event_type"), col("ts_us"))
      val bucketed = ev.withColumn("bucket",
        explode(sequence(expr(s"ts_us div $winUs"), expr(s"(ts_us + $winUs) div $winUs"))))
      val a = bucketed.select(col("bucket"), col("event_id").as("id_a"),
        col("event_type").as("type_a"), col("ts_us").as("ts_a"))
      val b = bucketed.select(col("bucket"), col("event_id").as("id_b"),
        col("event_type").as("type_b"), col("ts_us").as("ts_b"))
      a.join(b, Seq("bucket"))
        .filter(col("id_a") < col("id_b") &&
          col("ts_a") < col("ts_b") + winUs && col("ts_b") < col("ts_a") + winUs &&
          // count each pair exactly once: only in the first bucket both
          // intervals share (no post-join distinct shuffle needed)
          col("bucket") === greatest(expr(s"ts_a div $winUs"), expr(s"ts_b div $winUs")))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("type_a").asc_nulls_first, col("type_b").asc_nulls_first)
    }, Some(
      """SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_pairs
        |FROM events a JOIN events b
        |  ON a.event_id < b.event_id
        | AND epoch_us(a.ts) < epoch_us(b.ts) + 600000000
        | AND epoch_us(b.ts) < epoch_us(a.ts) + 600000000
        |GROUP BY type_a, type_b
        |ORDER BY type_a ASC NULLS FIRST, type_b ASC NULLS FIRST""".stripMargin)),

    // SALTED join — the manual skew-mitigation pattern for a shuffle
    // join whose key distribution is pathological (here event_type: 4
    // values over the whole corpus, so an unsalted hash join lands the
    // entire table on 4 reducers). Probe side scatters each row to
    // (key, salt∈[0,16)); the build side replicates each key row ×16
    // via a tiny explode; join on (key, salt) spreads every hot key
    // over 16 reducers. Broadcast would subsume this dim-sized build,
    // so the hint is disabled to pin the salted-shuffle plan — the
    // pattern under test is what saves the day when the build side is
    // TOO BIG to broadcast but the probe keys are skewed.
    Decl("q_join_salted", (spark, dir) => {
      val weights = Tables(spark, dir, "events")
        .select(col("event_type")).distinct()
        .withColumn("w", length(col("event_type")).cast("long"))
      // ×16 replication of each build key; the shuffle_hash hint pins
      // the shuffled join (this build side is dim-sized and would
      // broadcast, which subsumes salting — the pattern under test is
      // the too-big-to-broadcast case) without touching session conf
      val salted = weights
        .withColumn("salt", explode(expr("sequence(0, 15)")))
        .hint("shuffle_hash")
      Tables(spark, dir, "events")
        .withColumn("salt", pmod(xxhash64(col("event_id")), lit(16)).cast("int"))
        .join(salted, Seq("event_type", "salt"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("w")).as("w_total"))
        .orderBy(col("event_type").asc_nulls_first)
    }, Some(
      """WITH w AS (SELECT DISTINCT event_type,
        |    CAST(length(event_type) AS BIGINT) AS w FROM events)
        |SELECT event_type, COUNT(*) AS n, CAST(SUM(w) AS BIGINT) AS w_total
        |FROM events JOIN w USING (event_type)
        |GROUP BY event_type
        |ORDER BY event_type ASC NULLS FIRST""".stripMargin)),

    // Null-aware anti join (NOT IN with a nullable subquery) — the
    // classic three-valued-logic trap: one NULL in the IN-list makes
    // `x NOT IN (...)` never TRUE, so the first count is provably 0
    // while the null-filtered variant anti-joins normally. Spark plans
    // the null-aware case as a broadcast null-aware anti join (the
    // build side is the small filtered key set); at scale the fix is
    // exactly what the second branch shows — filter the NULLs and get
    // a keyed anti join.
    Decl("q_join_antinull", (spark, dir) => {
      Tables(spark, dir, "orders").createOrReplaceTempView("orders_aj")
      Tables(spark, dir, "customer").createOrReplaceTempView("customer_aj")
      spark.sql(
        """SELECT
          |  (SELECT COUNT(*) FROM orders_aj WHERE o_custkey NOT IN
          |     (SELECT CASE WHEN c_custkey % 100 = 0 THEN NULL ELSE c_custkey END
          |      FROM customer_aj WHERE c_custkey < 500)) AS n_with_null,
          |  (SELECT COUNT(*) FROM orders_aj WHERE o_custkey NOT IN
          |     (SELECT c_custkey FROM customer_aj
          |      WHERE c_custkey < 500 AND c_custkey % 100 <> 0)) AS n_sans_null""".stripMargin)
    }, Some(
      """SELECT
        |  (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
        |     (SELECT CASE WHEN c_custkey % 100 = 0 THEN NULL ELSE c_custkey END
        |      FROM customer WHERE c_custkey < 500)) AS n_with_null,
        |  (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
        |     (SELECT c_custkey FROM customer
        |      WHERE c_custkey < 500 AND c_custkey % 100 <> 0)) AS n_sans_null""".stripMargin)),

    // Runtime bloom-filter join pruning: when the build side carries a
    // selective filter but is still too big to broadcast, Catalyst's
    // InjectRuntimeFilter plants a bloom_filter_agg subquery on the
    // build keys and a might_contain pre-filter on the PROBE side —
    // at 100 TB the fact scan drops non-matching rows before the
    // shuffle instead of shipping them (the "semi-join reduction"
    // every warehouse engine does; the filter is a KB-sized bitset,
    // false positives only cost shuffle bytes, never correctness).
    // Broadcast is disabled to force the shuffled-join shape under
    // test; PlanShapeSpec pins the injected might_contain.
    Decl("q_join_bloom", (spark, dir) =>
      withConf(spark, bloomConfs: _*)(bloomJoin(spark, dir).localCheckpoint())
        .orderBy(col("p_brand").asc_nulls_first), Some(
      """SELECT p_brand, COUNT(*) AS n_lines,
        |  D4SUM(l_extendedprice) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#23'
        |GROUP BY p_brand
        |ORDER BY p_brand ASC NULLS FIRST""".stripMargin)),
  )

  /** q_join_bloom's confs + join body, shared with PlanShapeSpec (the
    * Decl localCheckpoints under the confs, which truncates lineage —
    * the spec needs the pre-checkpoint plan to see might_contain). */
  val bloomConfs: Seq[(String, String)] = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    // default 10 GB — the sf fixtures are far below it; any scan may
    // carry the filter (at real scale the default keeps tiny probe
    // scans from paying the filter's evaluation cost)
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  def bloomJoin(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .join(Tables(spark, dir, "part").filter(col("p_brand") === "Brand#23"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_lines"),
        d4(sum(dec(col("l_extendedprice")))).as("revenue"))
}
