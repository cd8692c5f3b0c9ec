package fmtbench

import java.sql.Date
import java.time.LocalDate
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Everything a workload sends to graft is
  * derived from the run's seed, so one seed always gives the same
  * tables, slices, predicates and DML keys. */
object Data {
  val Epoch: LocalDate = LocalDate.of(1992, 1, 1)

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DecimalType(15, 2)),
    StructField("o_orderdate", DateType),
    StructField("o_orderpriority", StringType),
    StructField("o_shippriority", IntegerType),
    StructField("o_comment", StringType)))

  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val words = Array("furiously", "quickly", "carefully", "blithely", "final",
    "pending", "regular", "express", "deposits", "requests", "accounts", "packages")

  /** Orders for the days [firstDay, firstDay + days), ~60 a day (sf0.1's
    * density), keys continuing from `nextKey`. Driver-side rows: the
    * ingest slices are small and the rows double as the oracle's input. */
  def ordersForDays(rnd: java.util.SplittableRandom, firstDay: Int, days: Int,
      nextKey: Long): Seq[Row] = {
    var key = nextKey
    (firstDay until firstDay + days).flatMap { d =>
      val date = Date.valueOf(Epoch.plusDays(d.toLong))
      (0 until 40 + rnd.nextInt(41)).map { _ =>
        key += 1
        Row(key, 1L + rnd.nextInt(15000), if (rnd.nextBoolean()) "O" else "F",
          java.math.BigDecimal.valueOf(90000L + rnd.nextInt(50000000), 2), date,
          priorities(rnd.nextInt(priorities.length)), 0,
          Seq.fill(3)(words(rnd.nextInt(words.length))).mkString(" "))
      }
    }
  }

  /** Deterministic per-row pseudo-random value in [0, n) from a row key
    * column, the seed and a salt — independent of partitioning. */
  def h(key: Column, seed: Long, salt: Int, n: Long): Column =
    pmod(xxhash64(key, lit(seed), lit(salt)), lit(n))

  /** `orders`/`lineitem` in TPC-H shape, generated distributed:
    * `nOrders` orders with order dates spread over `days` days, 4 lines
    * per order, ship dates 1–121 days after the order date. */
  def tpch(spark: SparkSession, seed: Long, nOrders: Long, days: Int,
      firstKey: Long = 1L): (DataFrame, DataFrame) = {
    val ok = col("id") + lit(firstKey)
    val orderDate = (k: Column) => date_add(lit(Date.valueOf(Epoch)), h(k, seed, 1, days).cast("int"))
    val orders = spark.range(nOrders).select(
      ok.as("o_orderkey"),
      (h(ok, seed, 2, 15000) + 1).as("o_custkey"),
      when(h(ok, seed, 3, 2) === 0, "O").otherwise("F").as("o_orderstatus"),
      ((h(ok, seed, 4, 50000000) + 90000) / 100).cast(DecimalType(15, 2)).as("o_totalprice"),
      orderDate(ok).as("o_orderdate"),
      element_at(array(priorities.map(lit): _*), (h(ok, seed, 5, 5) + 1).cast("int"))
        .as("o_orderpriority"),
      lit(0).as("o_shippriority"))
    val lk = col("id") / 4
    val lok = floor(lk).cast("long") + lit(firstKey)
    val qty = (h(col("id"), seed, 11, 50) + 1).cast(DecimalType(15, 2))
    val lineitem = spark.range(nOrders * 4).select(
      lok.as("l_orderkey"),
      (h(col("id"), seed, 12, 20000) + 1).as("l_partkey"),
      (pmod(col("id"), lit(4)) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      (qty * ((h(col("id"), seed, 13, 100000) + 90000) / 100).cast(DecimalType(15, 2)))
        .cast(DecimalType(15, 2)).as("l_extendedprice"),
      (h(col("id"), seed, 14, 11) / 100).cast(DecimalType(15, 2)).as("l_discount"),
      (h(col("id"), seed, 15, 9) / 100).cast(DecimalType(15, 2)).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (h(col("id"), seed, 16, 3) + 1).cast("int"))
        .as("l_returnflag"),
      when(h(col("id"), seed, 17, 2) === 0, "O").otherwise("F").as("l_linestatus"),
      date_add(orderDate(lok), (h(col("id"), seed, 18, 121) + 1).cast("int")).as("l_shipdate"),
      element_at(array(Seq("AIR", "MAIL", "RAIL", "SHIP", "TRUCK").map(lit): _*),
        (h(col("id"), seed, 19, 5) + 1).cast("int")).as("l_shipmode"))
    (orders, lineitem)
  }

  val eventsSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("user_id", LongType),
    StructField("kind", StringType),
    StructField("amount", DecimalType(12, 2)),
    StructField("version", IntegerType)))

  val kinds: Array[String] = Array("view", "click", "cart", "buy", "refund")

  /** `n` events with ids 0 until n, generated distributed from the seed. */
  def events(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    spark.range(n).select(
      id,
      (h(id, seed, 21, 5000) + 1).as("user_id"),
      element_at(array(kinds.toIndexedSeq.map(lit): _*), (h(id, seed, 22, kinds.length) + 1).cast("int"))
        .as("kind"),
      (h(id, seed, 23, 1000000) / 100).cast(DecimalType(12, 2)).as("amount"),
      lit(0).as("version"))
  }

  def event(rnd: java.util.SplittableRandom, id: Long, version: Int): Row =
    Row(id, 1L + rnd.nextInt(5000), kinds(rnd.nextInt(kinds.length)),
      java.math.BigDecimal.valueOf(rnd.nextInt(1000000).toLong, 2), version)

  /** Order-independent checksum of a frame: its row count and the exact
    * sum of a 64-bit hash over every column of each row. */
  def checksum(df: DataFrame): Seq[Any] = {
    val all = xxhash64(df.columns.map(col).toIndexedSeq: _*).cast(DecimalType(38, 0))
    df.agg(count(lit(1)), sum(all)).head().toSeq.map {
      case null => 0
      case x => x
    }
  }
}
