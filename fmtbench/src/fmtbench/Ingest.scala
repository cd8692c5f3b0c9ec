package fmtbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import scala.collection.mutable

/** `ingest`: a pipeline appending small batches to a Hadoop-catalog
  * table partitioned by `days(o_orderdate)`.
  *
  *  - op: one append commit of a 1–3 day slice of seeded `orders`
  *    (~60 rows a day) through `writeTo(...).append()`.
  *  - follow: after every [[K]] commits, a `readStream.table` tail
  *    consumer (trigger AvailableNow, restarted from its checkpoint)
  *    delivers the new commits; the time is the consumer's freshness.
  *  - read: then an aggregate over a seeded [[ReadDays]]-day window of
  *    order dates, which partition pruning cuts to a few files.
  *
  * The measured table's history starts empty (the warm-up uses its own
  * table), so per-commit cost is a function of commits made in the
  * window: metadata.json inlines every snapshot's file list and grows
  * quadratically with commits — kept visible on purpose. For the same
  * reason the window is a fixed number of commits ([[windowOps]]), not
  * a time: every run's samples cover the same history, however fast
  * the program commits.
  */
final class Ingest(spark: SparkSession, rec: Recorder, seed: Long) extends Workload {
  // set-up is small here (DDL and the consumer's first run): more reps
  override def setupReps: Int = 7
  private val K = 2
  private val ReadDays = 3
  /** Days per append, in a fixed order so every run's history has the
    * same shape (the rows in each slice come from the seed). */
  private val SliceDays = Seq(2, 1, 3, 2)
  private val rnd = new java.util.SplittableRandom(seed)
  private var cat = ""
  private var day = 0
  private var nextKey = 0L
  private var commits = 0
  private val appended = mutable.ArrayBuffer[Row]()
  private val delivered = new Agg
  private var ckpt = ""

  /** Running (rows, Σ o_orderkey, Σ o_totalprice) — the cheap per-op check. */
  final class Agg {
    var rows = 0L
    var keys = 0L
    var price = BigDecimal(0)
    def add(r: Row): Unit = {
      rows += 1; keys += r.getLong(0); price += BigDecimal(r.getDecimal(3))
    }
    def addAgg(n: Long, k: Long, p: java.math.BigDecimal): Unit = {
      rows += n; keys += k; if (p != null) price += BigDecimal(p)
    }
    def same(o: Agg): Boolean = rows == o.rows && keys == o.keys && price == o.price
    override def toString = s"rows=$rows keys=$keys price=$price"
  }
  private val expected = new Agg

  private def table = s"$cat.ing.orders"

  override def setup(warehouse: Path, rep: Int): Unit = {
    cat = s"ing$rep"
    Catalogs.hadoop(spark, cat, warehouse)
    spark.sql(s"CREATE NAMESPACE $cat.ing")
    val ddl = "(o_orderkey BIGINT NOT NULL, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DECIMAL(15,2), o_orderdate DATE, o_orderpriority STRING, " +
      "o_shippriority INT, o_comment STRING) PARTITIONED BY (days(o_orderdate))"
    spark.sql(s"CREATE TABLE $cat.ing.warm $ddl")
    spark.sql(s"CREATE TABLE $table $ddl")
    ckpt = warehouse.resolveSibling(s"ckpt-ing$rep").toString
    // the tail consumer's first run initialises its checkpoint
    drainInto(table, ckpt, delivered)
    warmCkpt = warehouse.resolveSibling(s"ckpt-ing-warm$rep").toString
  }

  private var warmCkpt = ""
  /** enough for the JIT to settle the append, drain and read paths */
  private val WarmCommits = 6 * K

  override def warmup(): Unit = {
    val warmRnd = new java.util.SplittableRandom(seed ^ 0x5eed)
    var k = 1L << 40
    (0 until WarmCommits).foreach { i =>
      val rows = Data.ordersForDays(warmRnd, 3000 + 2 * i, 2, k)
      k += rows.size
      rec.op("warmup", "append")(frame(rows).writeTo(s"$cat.ing.warm").append())
      if (i % K == K - 1) {
        rec.op("warmup", "drain")(drainInto(s"$cat.ing.warm", warmCkpt, new Agg))
        val first = Data.Epoch.plusDays(3000L + 2 * i - ReadDays + 2)
        rec.op("warmup", "read")(readAgg(s"$cat.ing.warm",
          s"o_orderdate BETWEEN DATE '$first' AND DATE '${first.plusDays(ReadDays - 1L)}'"))
      }
    }
  }

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Data.ordersSchema)

  private def drainInto(t: String, ck: String, into: Agg): Unit = {
    import org.apache.spark.sql.functions._
    val q = spark.readStream.table(t).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val r = df.agg(count(lit(1)), sum(col("o_orderkey")), sum(col("o_totalprice"))).head()
        into.addAgg(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), r.getDecimal(2))
      }
      .start()
    Trace.streamStarted(q.runId.toString, rec)
    try q.awaitTermination()
    finally graft.streaming.Hygiene.unload(q.runId)
  }

  private def readAgg(t: String, where: String): Agg = {
    val r = Trace.query("agg-read")(spark.sql(
      s"SELECT count(*), sum(o_orderkey), sum(o_totalprice) FROM $t WHERE $where")).head
    val a = new Agg
    a.addAgg(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), r.getDecimal(2))
    a
  }

  /** Commits in a window of `--seconds`: 28 at 25 s, in whole drain
    * periods — about 20 s of work for the program as first measured,
    * which leaves room for set-up and warm-up within a run's budget. */
  override def windowOps(seconds: Int): Option[Int] =
    Some((math.round(seconds * 0.56).toInt max 1) * K)

  override def step(): Unit = {
    val days = SliceDays(commits % SliceDays.size)
    val rows = Data.ordersForDays(rnd, day, days, nextKey)
    day += days
    nextKey += rows.size
    val df = frame(rows)
    val ok = rec.op("op", "append")(Trace.layer("writer", "append")(df.writeTo(table).append()))
    if (ok.isEmpty) return
    appended ++= rows
    rows.foreach(expected.add)
    commits += 1
    Trace.afterCommit(rec, table)
    if (commits % K == 0) {
      rec.op("follow", "tail-drain")(Trace.layer("streaming", "drain") {
        drainInto(table, ckpt, delivered)
        if (!delivered.same(expected))
          sys.error(s"tail consumer delivered $delivered, appended $expected")
      })
      val first = Data.Epoch.plusDays(rnd.nextInt(day - ReadDays + 1).toLong)
      val last = first.plusDays(ReadDays - 1L)
      val want = new Agg
      appended.iterator.filter { r =>
        val d = r.getDate(4).toLocalDate
        !d.isBefore(first) && !d.isAfter(last)
      }.foreach(want.add)
      rec.op("read", "window-read") {
        val got = readAgg(table, s"o_orderdate BETWEEN DATE '$first' AND DATE '$last'")
        if (!got.same(want)) sys.error(s"days $first..$last hold $got, appended $want")
      }
    }
  }

  override def oracleChecks: Int = 3

  override def verify(): Seq[String] = {
    // deliver what the window left behind, then compare full checksums
    val drained = scala.util.Try(drainInto(table, ckpt, delivered))
    val want = Data.checksum(frame(appended.toSeq))
    val got = Data.checksum(spark.table(table))
    Seq(
      drained.failed.toOption.map(e => s"final drain: $e"),
      if (got == want) None else Some(s"table checksum $got != appended $want"),
      if (delivered.same(expected)) None
      else Some(s"tail consumer delivered $delivered, appended $expected")).flatten
  }

  /** Space amplification grows with history (every snapshot inlines its
    * file list); the fixed commit count of the window fixes where it is
    * taken. */
  override def spaceAmp(): Double = Probes.spaceAmp(spark, Seq(table))

  override def layerProbes(): Map[String, Double] = Probes.tableLayers(spark, table)
}
