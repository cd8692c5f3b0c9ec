package fmtbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.mutable

/** `analytics`: read-only queries on `lineitem` and `orders` through a
  * relocated warehouse.
  *
  * Set-up writes `lineitem` partitioned by `months(l_shipdate),
  * bucket(16, l_orderkey)` — about 140 data files with a manifest chunk
  * size of 128, so the file list spans one full chunk plus an inline
  * tail — and `orders`, appends one small batch to `lineitem` (so a
  * previous snapshot exists for time travel), then moves the warehouse
  * directory and registers a new catalog over the new location; every
  * query reads through that catalog.
  *
  *  - op: lookups — a 1-day to 1-month ship-date window, or one order key.
  *  - follow: reports — a Q1-style full aggregate or a Q3-style join.
  *  - read: the date-window lookup `VERSION AS OF` the previous snapshot.
  *
  * Reports plan every file of the table, so they show scan-planning
  * cost as the file count grows; date lookups show chunk and file
  * pruning. Every result is compared with plain Spark over the raw
  * parquet the tables were loaded from.
  */
final class Analytics(spark: SparkSession, rec: Recorder, seed: Long) extends Workload {
  private val Orders = 30000L
  private val Days = 120 // order dates over 4 months; ship dates run ~4 months past
  private val ExtraOrders = 500L
  private val rnd = new java.util.SplittableRandom(seed)
  private var cat = ""
  private var prevSnapshot = 0L
  /** (graft SQL, oracle SQL, rows graft returned) per measured query */
  private val results = mutable.ArrayBuffer[(String, String, Seq[String])]()

  override def setupReps: Int = 3

  override def prepare(work: Path): Unit = {
    // the tables' input and the oracle's, generated once and cached
    val (o, l) = Data.tpch(spark, seed, Orders, Days)
    val (_, lx) = Data.tpch(spark, seed, ExtraOrders, 28, firstKey = Orders + 1)
    Seq(o -> "raw_orders", l -> "raw_li_prev", lx -> "raw_li_extra").foreach { case (df, v) =>
      df.repartition(4).cache().createOrReplaceTempView(v)
    }
    spark.table("raw_li_prev").unionByName(spark.table("raw_li_extra"))
      .createOrReplaceTempView("raw_li")
    Seq("raw_orders", "raw_li_prev", "raw_li_extra").foreach(v => spark.table(v).count())
  }

  override def setup(warehouse: Path, rep: Int): Unit = {
    val a = warehouse.resolve("a")
    val b = warehouse.resolve("b")
    val c0 = s"tp$rep"
    Catalogs.hadoop(spark, c0, a)
    spark.sql(s"CREATE NAMESPACE $c0.tpch")
    spark.sql(s"CREATE TABLE $c0.tpch.lineitem (l_orderkey BIGINT, l_partkey BIGINT, " +
      "l_linenumber INT, l_quantity DECIMAL(15,2), l_extendedprice DECIMAL(15,2), " +
      "l_discount DECIMAL(15,2), l_tax DECIMAL(15,2), l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate DATE, l_shipmode STRING) " +
      "PARTITIONED BY (months(l_shipdate), bucket(16, l_orderkey)) " +
      "TBLPROPERTIES ('write.metadata.manifest-chunk-size'='128')")
    spark.sql(s"CREATE TABLE $c0.tpch.orders (o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_orderstatus STRING, o_totalprice DECIMAL(15,2), o_orderdate DATE, " +
      "o_orderpriority STRING, o_shippriority INT)")
    Trace.layer("setup", "load-lineitem")(spark.table("raw_li_prev").writeTo(s"$c0.tpch.lineitem").append())
    Trace.layer("setup", "load-orders")(spark.table("raw_orders").writeTo(s"$c0.tpch.orders").append())
    rec.op("setup", "append")(Trace.layer("writer", "append")(
      spark.table("raw_li_extra").writeTo(s"$c0.tpch.lineitem").append()))
    // relocate: move the whole warehouse, then open it from the new place
    Files.move(a, b)
    cat = s"reloc$rep"
    Catalogs.hadoop(spark, cat, b)
    prevSnapshot = Catalogs.load(spark, s"$cat.tpch.lineitem").readSnapshot
      .flatMap(_.parentId).getOrElse(sys.error("lineitem has no previous snapshot"))
  }

  /** One query of each shape. */
  override def warmup(): Unit = {
    val warm = new java.util.SplittableRandom(seed ^ 0x5eed)
    Seq(0, 50, 70, 85, 95).foreach { k =>
      val (_, name, sql, _) = query(k, warm)
      rec.op("warmup", name)(Trace.query(name)(spark.sql(sql)))
    }
  }

  private def li = s"$cat.tpch.lineitem"
  private def ord = s"$cat.tpch.orders"

  private def date(r: java.util.SplittableRandom, spanDays: Int): java.time.LocalDate =
    Data.Epoch.plusDays(r.nextInt(Days + 120 - spanDays).toLong)

  /** Build query `kind` (0–99 picks the shape) with seeded parameters:
    * (class, name, graft SQL, oracle SQL). The mix is mostly lookups
    * plus a minority of reports. */
  private def query(kind: Int, r: java.util.SplittableRandom): (String, String, String, String) = {
    if (kind < 45) {
      val span = 1 + r.nextInt(30)
      val d = date(r, span)
      val q = (t: String) => s"SELECT count(*), sum(l_quantity), sum(l_extendedprice) FROM $t " +
        s"WHERE l_shipdate BETWEEN DATE'$d' AND DATE'${d.plusDays(span - 1L)}'"
      ("op", "date-lookup", q(li), q("raw_li"))
    } else if (kind < 65) {
      val k = 1 + r.nextLong(Orders)
      val q = (t: String) => s"SELECT l_linenumber, l_quantity, l_extendedprice, l_shipdate " +
        s"FROM $t WHERE l_orderkey = $k"
      ("op", "key-lookup", q(li), q("raw_li"))
    } else if (kind < 80) {
      val span = 1 + r.nextInt(30)
      val d = date(r, span)
      val q = (t: String) => s"SELECT count(*), sum(l_quantity), sum(l_extendedprice) FROM $t " +
        s"WHERE l_shipdate BETWEEN DATE'$d' AND DATE'${d.plusDays(span - 1L)}'"
      ("read", "time-travel", q(s"$li VERSION AS OF $prevSnapshot"), q("raw_li_prev"))
    } else if (kind < 92) {
      val cut = Data.Epoch.plusDays((Days + 120 - 60 - r.nextInt(60)).toLong)
      val q = (t: String) => "SELECT l_returnflag, l_linestatus, sum(l_quantity), " +
        "sum(l_extendedprice), sum(l_extendedprice * (1 - l_discount)), " +
        "sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), count(*) " +
        s"FROM $t WHERE l_shipdate <= DATE'$cut' GROUP BY l_returnflag, l_linestatus"
      ("follow", "q1-report", q(li), q("raw_li"))
    } else {
      val d = date(r, 120).plusDays(60)
      val q = (l: String, o: String) => "SELECT l_orderkey, " +
        "sum(l_extendedprice * (1 - l_discount)) AS revenue, o_orderdate, o_shippriority " +
        s"FROM $o JOIN $l ON l_orderkey = o_orderkey " +
        s"WHERE o_orderdate < DATE'$d' AND l_shipdate > DATE'$d' " +
        "GROUP BY l_orderkey, o_orderdate, o_shippriority " +
        "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"
      ("follow", "q3-report", q(li, ord), q("raw_li", "raw_orders"))
    }
  }

  private def render(rows: Seq[Row]): Seq[String] = rows.map(_.mkString("|")).sorted

  /** The mix, in a fixed order so every run has the same shares:
    * 6 lookups (4 date, 2 key), 2 time-travel reads, 2 reports. */
  private val Mix = Seq(0, 50, 10, 85, 20, 70, 55, 30, 95, 75)
  private var n = 0

  override def step(): Unit = {
    val kind = Mix(n % Mix.size)
    n += 1
    val (cls, name, sql, oracle) = query(kind, rnd)
    rec.op(cls, name)(Trace.query(name)(spark.sql(sql))).foreach { rows =>
      results += ((sql, oracle, render(rows.toSeq)))
    }
  }

  override def oracleChecks: Int = results.size

  override def verify(): Seq[String] = {
    // the oracle queries are independent: run them four at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val out = try {
      val checks = results.toSeq.map { case (sql, oracle, got) =>
        pool.submit(() => {
          val want = render(spark.sql(oracle).collect().toSeq)
          if (got == want) None
          else Some(s"$sql returned ${got.take(3).mkString(";")}, plain Spark ${want.take(3).mkString(";")}")
        })
      }
      checks.flatMap(_.get())
    } finally pool.shutdown()
    Seq("raw_orders", "raw_li_prev", "raw_li_extra").foreach(v => spark.table(v).unpersist(blocking = true))
    out
  }

  override def spaceAmp(): Double = Probes.spaceAmp(spark, Seq(li, ord))

  override def layerProbes(): Map[String, Double] = Probes.tableLayers(spark, li)
}
