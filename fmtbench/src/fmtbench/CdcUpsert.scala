package fmtbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.collection.mutable

/** `cdc_upsert`: row-level writes beside reads of the same table, in a
  * JDBC (embedded Derby) catalog.
  *
  * `events` (100k rows) is merge-on-read for DELETE, UPDATE and MERGE.
  * Each cycle:
  *  - op: one seeded MERGE (upsert of existing and new ids), UPDATE or
  *    DELETE over a key range;
  *  - follow: the running `graft-cdc` consumer (foreachBatch) lands
  *    the DML's change rows in the `log` table;
  *  - read: one aggregate over `events`, which must apply the live
  *    delete files.
  * Every [[MaintEvery]] cycles, `rewrite_position_deletes` and
  * `expire_snapshots` run (timed on their own, not in the cycle). The
  * window is a fixed number of cycles ([[windowOps]]).
  *
  * A change that makes DML cheaper by moving work onto reads shows up
  * in the read time. The final table is compared with an in-memory
  * replay of the same seeded DML, and the change log's net change with
  * the table: the initial rows plus the log's inserts minus its deletes
  * must give exactly the table's rows.
  */
final class CdcUpsert(spark: SparkSession, rec: Recorder, seed: Long) extends Workload {
  private val Rows = 100000
  // the first set-up also pays JVM warm-up: five keep it off the median
  override def setupReps: Int = 5
  private val MaintEvery = 4
  private val rnd = new java.util.SplittableRandom(seed)
  private var cat = ""
  /** The consumer's trigger interval: long enough that its polls of an
    * idle table stay out of the DML and read timings. */
  private val PollMs = 200L
  private var live: Option[StreamingQuery] = None
  private var cycles = 0
  /** ids for MERGE inserts, far above the key ranges DML picks from */
  private val NewIds = 1L << 32
  private var nextId = NewIds
  /** the replay: id → row, updated by the same seeded DML */
  private val model = mutable.LongMap[Row]()
  private val cols = Data.eventsSchema.fieldNames.toSeq

  private def events = s"$cat.cdc.events"
  private def log = s"$cat.cdc.log"

  override def setup(warehouse: Path, rep: Int): Unit = {
    live.foreach(stop)
    cat = s"jdbc$rep"
    Catalogs.jdbc(spark, cat, warehouse, warehouse.resolveSibling(s"db$rep"))
    spark.sql(s"CREATE NAMESPACE $cat.cdc")
    val ddl = "(id BIGINT NOT NULL, user_id BIGINT, kind STRING, amount DECIMAL(12,2), version INT)"
    val mor = "TBLPROPERTIES ('write.delete.mode'='merge-on-read', " +
      "'write.update.mode'='merge-on-read', 'write.merge.mode'='merge-on-read')"
    Seq("events", "warm").foreach(t => spark.sql(s"CREATE TABLE $cat.cdc.$t $ddl $mor"))
    Seq("log", "warm_log").foreach(t => spark.sql(
      s"CREATE TABLE $cat.cdc.$t (id BIGINT, user_id BIGINT, kind STRING, " +
        "amount DECIMAL(12,2), version INT, change_type STRING)"))
    model.clear()
    initial.foreach(x => model(x.getLong(0)) = x)
    spark.table("fmtbench_initial").writeTo(events).append()
    // the consumer tails changes from here on; the initial load is known
    val seq = Catalogs.load(spark, events).readSnapshot.map(_.sequenceNumber).getOrElse(0L)
    live = Some(consumer(events, log, warehouse.resolveSibling(s"ckpt-cdc$rep").toString, seq))
    drain(live.get)
    warmCkpt = warehouse.resolveSibling(s"ckpt-cdc-warm$rep").toString
  }

  private var warmCkpt = ""

  /** On its own small table: two DMLs of each kind, each followed by a
    * CDC drain and a MOR read. */
  override def warmup(): Unit = {
    val w = s"$cat.cdc.warm"
    val wr = new java.util.SplittableRandom(seed ^ 0x5eed)
    spark.table("fmtbench_initial").filter(col("id") < 2000).writeTo(w).append()
    val warmModel = mutable.LongMap[Row]()
    val wq = consumer(w, s"$cat.cdc.warm_log", warmCkpt, 0L)
    try Seq(0, 1, 2, 0, 1, 2).foreach { kind =>
      rec.op("warmup", "dml")(dml(w, kind, wr, warmModel, 2000L))
      rec.op("warmup", "drain")(drain(wq))
      rec.op("warmup", "read")(Trace.query("mor-read")(spark.sql(readSql(w))))
    } finally stop(wq)
    nextId = NewIds
    initial = Nil
  }

  private var initial: Seq[Row] = Nil

  override def prepare(work: Path): Unit = {
    val df = spark.createDataFrame(Data.events(spark, seed, Rows).rdd, Data.eventsSchema)
    df.repartition(4).cache().createOrReplaceTempView("fmtbench_initial")
    initial = spark.table("fmtbench_initial").collect().toSeq
  }

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), Data.eventsSchema)

  private def readSql(t: String) =
    s"SELECT count(*), sum(amount), sum(version), sum(user_id) FROM $t"

  /** One seeded DML on `t` (kind 0 MERGE, 1 UPDATE, 2 DELETE), applied to
    * `m` too. The model skips nothing: ids that no longer exist simply
    * match nothing, on both sides. */
  private def dml(t: String, kind: Int, r: java.util.SplittableRandom,
      m: mutable.LongMap[Row], idSpace: Long): Unit = {
    val lo = r.nextLong(idSpace)
    kind match {
      case 0 =>
        // upsert 100 rows in a key range (some exist, some deleted) + 100 new ids
        val rows = (0 until 100).map(i => Data.event(r, lo + 3 * i, 1 + r.nextInt(1000))) ++
          (0 until 100).map(i => Data.event(r, nextId + i, 0))
        nextId += 100
        frame(rows).createOrReplaceTempView("fmtbench_upserts")
        Trace.layer("mor", "merge")(Trace.query("merge")(spark.sql(
          s"MERGE INTO $t t USING fmtbench_upserts s ON t.id = s.id " +
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")))
        rows.foreach(x => m(x.getLong(0)) = x)
      case 1 =>
        val hi = lo + 99
        val cents = 1 + r.nextInt(500)
        Trace.layer("mor", "update")(Trace.query("update")(spark.sql(
          s"UPDATE $t SET amount = amount + ${cents / 100.0}BD, version = version + 1 " +
            s"WHERE id BETWEEN $lo AND $hi")))
        (lo to hi).foreach(id => m.get(id).foreach { x =>
          val amt = x.getDecimal(3).add(java.math.BigDecimal.valueOf(cents.toLong, 2))
          m(id) = Row(x.getLong(0), x.getLong(1), x.getString(2), amt, x.getInt(4) + 1)
        })
      case _ =>
        val hi = lo + 49
        Trace.layer("mor", "delete")(Trace.query("delete")(spark.sql(
          s"DELETE FROM $t WHERE id BETWEEN $lo AND $hi")))
        (lo to hi).foreach(m.remove)
    }
  }

  /** The change-log consumer: a long-running `graft-cdc` query over `t`
    * (changes after sequence number `from`) whose foreachBatch appends
    * each batch's change rows to `into`. */
  private def consumer(t: String, into: String, ck: String, from: Long): StreamingQuery = {
    val q = spark.readStream.format("graft-cdc").option("table", t)
      .option("start-seq", from.toString).load()
      .writeStream
      .trigger(Trigger.ProcessingTime(PollMs))
      .option("checkpointLocation", ck)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select((cols.map(col) :+ col("_change_type").as("change_type")): _*)
          .writeTo(into).append()
      }
      .start()
    Trace.streamStarted(q.runId.toString, rec)
    q
  }

  /** Wait until the consumer has landed every committed change. */
  private def drain(q: StreamingQuery): Unit = {
    q.processAllAvailable()
    q.exception.foreach(e => throw e)
  }

  private def stop(q: StreamingQuery): Unit = {
    q.stop()
    graft.streaming.Hygiene.unload(q.runId)
  }

  private def maintenance(t: String): Unit = {
    val name = t.stripPrefix(s"$cat.")
    val t0 = System.nanoTime()
    val rewritten = Trace.layer("maintenance", "rewrite_position_deletes")(spark.sql(
      s"CALL $cat.system.rewrite_position_deletes(tbl => '$name')").head().getInt(0))
    val t1 = System.nanoTime()
    val removed = Trace.layer("maintenance", "expire_snapshots")(spark.sql(
      s"CALL $cat.system.expire_snapshots(tbl => '$name', keep_last => 5)").head().getInt(0))
    val t2 = System.nanoTime()
    if (rec.measuring) {
      rec.maint("rewrite_deletes_ms") += (t1 - t0) / 1e6
      rec.maint("expire_ms") += (t2 - t1) / 1e6
      rec.maint("files_rewritten") += rewritten
      rec.maint("files_removed") += removed
    }
  }

  private def modelAgg: Seq[String] = {
    val vs = model.values
    Seq(vs.size.toString,
      vs.map(x => BigDecimal(x.getDecimal(3))).sum.bigDecimal.toPlainString,
      vs.map(_.getInt(4).toLong).sum.toString, vs.map(_.getLong(1)).sum.toString)
  }

  /** DML kinds in a fixed order (2 MERGE, 2 UPDATE, 1 DELETE per 5), so
    * every run has the same shares; keys and values come from the seed. */
  private val Mix = Seq(0, 1, 2, 0, 1)

  /** Whole mix periods, 2 cycles per 5 s of `--seconds` (10 at 25 s):
    * with a time window, a run's median would fall on whichever DML
    * kind its last few cycles added. */
  override def windowOps(seconds: Int): Option[Int] =
    Some((math.round(seconds * 2.0 / 5 / Mix.size).toInt max 1) * Mix.size)

  override def step(): Unit = {
    val kind = Mix(cycles % Mix.size)
    cycles += 1
    val ok = rec.op("op", Seq("merge", "update", "delete")(kind))(
      dml(events, kind, rnd, model, Rows.toLong))
    if (ok.isEmpty) return
    Trace.afterCommit(rec, events, dml = true)
    rec.op("follow", "cdc-drain")(Trace.layer("streaming", "drain")(drain(live.get)))
    val want = modelAgg
    rec.op("read", "mor-read") {
      val got = Trace.query("mor-read")(spark.sql(readSql(events))).head
        .toSeq.map {
          case d: java.math.BigDecimal => d.toPlainString
          case x => String.valueOf(x)
        }
      if (got != want) sys.error(s"events aggregate $got, replay $want")
    }
    if (cycles % MaintEvery == 0) rec.op("maint", "maintenance")(maintenance(events))
    if (cycles == AmpAt) amp = Some(Probes.spaceAmp(spark, Seq(events)))
  }

  /** Space amplification swings with the maintenance cycle, so it is
    * taken at a fixed point: right after the window's first maintenance
    * (cycle [[AmpAt]]); a run with fewer cycles reports its end state. */
  private val AmpAt = MaintEvery
  private var amp: Option[Double] = None

  override def oracleChecks: Int = 3

  override def verify(): Seq[String] = {
    val drained = scala.util.Try(drain(live.get))
    live.foreach(stop)
    live = None
    val table = spark.table(events)
    val want = Data.checksum(frame(model.values.toSeq))
    val got = Data.checksum(table)
    val sign = when(col("change_type").isin("insert", "update_postimage"), 1)
      .when(col("change_type").isin("delete", "update_preimage"), -1).otherwise(0)
    val net = spark.table(log)
      .unionByName(spark.table("fmtbench_initial").withColumn("change_type", lit("insert")))
      .groupBy(cols.map(col): _*).agg(sum(sign).as("n"))
      .filter(col("n") =!= 0)
    val badNet = net.filter(col("n") =!= 1).count()
    val netSum = Data.checksum(net.select(cols.map(col): _*))
    spark.table("fmtbench_initial").unpersist(blocking = true)
    Seq(
      drained.failed.toOption.map(e => s"final drain: $e"),
      if (got == want) None else Some(s"events checksum $got != replay $want"),
      if (badNet == 0 && netSum == got) None
      else Some(s"initial rows plus the change log net to $netSum " +
        s"($badNet rows with net != 1), table $got")).flatten
  }

  override def spaceAmp(): Double = amp.getOrElse(Probes.spaceAmp(spark, Seq(events)))

  override def layerProbes(): Map[String, Double] = Probes.tableLayers(spark, events)
}
