package graft.ops

import graft.{Decl, Pack, Tables}
import graft.Dsl.{d4, withConf}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime
import scala.jdk.CollectionConverters._

/** Structured Streaming operators (SURVEY.md §2.2 "Streaming").
  *
  * Each declared query executes a REAL streaming query: events replay
  * through a parquet FILE-SOURCE stream (spark.readStream.parquet) into
  * a memory sink, and the function returns the materialized sink table.
  * Window/dedup/join results are batch-equivalent, so the tumble/slide/
  * dedup/join/sink/watermark queries still carry a DuckDB oracle;
  * session/stateful are engine-self-checked.
  *
  * The replay payload never touches the driver: events are normalized
  * once per sf-dir by a distributed batch write, each query's stream
  * source directory is populated with HARDLINKS to those part files,
  * and replay waves arrive as new files picked up by the file source
  * — exactly how a production file-drop ingest works. At 100 TB the same plan streams from object storage with
  * `maxFilesPerTrigger` pacing; nothing here is driver-resident.
  *
  * Scale notes: all stateful ops key their state by a high-cardinality
  * column (window start / user_id / event_id), which is exactly the
  * state partitioning Structured Streaming shards across executors;
  * watermarks bound state size for 100 TB/day streams.
  */
object StreamOps extends Pack {

  case class Ev(event_id: Long, ts: LocalDateTime, user_id: Long,
      event_type: String, value: Double)

  private val n = new java.util.concurrent.atomic.AtomicInteger(0)
  private val evCols =
    Seq(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))

  // Normalized replay payloads, written once per JVM (distributed batch
  // writes, no driver materialization) and hardlinked per query.
  private val normCache = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Events with µs timestamps + fixed column order, as ≥2 parquet part
    * files (so multi-wave replays have real file boundaries). */
  private def eventsSrc(spark: SparkSession, dir: String): String =
    normCache.getOrElseUpdate(s"events:$dir", {
      val out = Files.createTempDirectory("graft_stream_events").toString
      // explicit-count repartition: AQE leaves REPARTITION_BY_NUM alone,
      // so the file count is stable
      Tables(spark, dir, "events").select(evCols: _*)
        .repartition(4).write.mode("overwrite").parquet(out)
      out
    })

  /** One-row sentinel far past every real event: linked into the
    * FIRST wave of the queries that need a watermark flush (the
    * watermark is computed at end-of-batch from the max event time
    * seen, so one data batch + one no-data batch flushes every real
    * append-mode window deterministically). */
  private def sentinelSrc(spark: SparkSession): String =
    normCache.getOrElseUpdate("sentinel", {
      import spark.implicits._
      val out = Files.createTempDirectory("graft_stream_sentinel").toString
      Seq(Ev(-1L, LocalDateTime.of(2030, 1, 1, 0, 0), -1L, "__sentinel", 0.0))
        .toDS().coalesce(1).write.mode("overwrite").parquet(out)
      out
    })

  /** Hardlink every part file of `from` into `dst` under a wave-unique
    * name; the file source sees them as new input. */
  private def linkWave(dst: Path, from: String, wave: String): Unit =
    Files.list(Paths.get(from)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(p => Files.createLink(dst.resolve(s"$wave-${p.getFileName}"), p))

  private def rmTree(p: Path): Unit =
    Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(Files.delete)

  /** Replay events through `build` (a streaming transform) into a
    * memory sink; returns the materialized sink table. The sink's temp
    * view is dropped before returning (result is localCheckpoint-ed
    * first), so suite runs don't accumulate sink state.
    *
    * `sentinel` (opt round 22, guide §5 "fewer/cheaper commits"): the
    * far-future sentinel row exists ONLY to advance the watermark so
    * append-mode windows flush. Queries without a watermark flush
    * dependency (Complete/Update mode, stateless append) emit their
    * full result from the data batches alone, and every declared
    * result filters the sentinel row out anyway — so for them the
    * sentinel wave was one extra micro-batch (plus its no-data
    * follow-up) of pure state-store-commit overhead per query. Where
    * it IS needed it is linked INTO the first wave: the watermark is
    * computed at end-of-batch from the max event time seen, so one
    * data batch + one no-data flush batch yields the same emitted set
    * as the old three-batch (events, sentinel, flush) replay.
    */
  private def streamed(spark: SparkSession, dir: String,
      mode: OutputMode, twice: Boolean = false, sentinel: Boolean = false)(
      build: Dataset[Ev] => DataFrame): DataFrame = {
    // the sentinel advances the watermark past every event, so a
    // second wave would be dropped as late
    require(!(twice && sentinel), "streamed: twice and sentinel cannot combine")
    import spark.implicits._
    val src = Files.createTempDirectory("graft_stream_src")
    linkWave(src, eventsSrc(spark, dir), "w0")
    if (sentinel) linkWave(src, sentinelSrc(spark), "w0-sentinel")
    val name = s"graft_stream_${n.incrementAndGet()}"
    // state-store overhead is per (partition × micro-batch): run the
    // bounded replay with fewer state partitions than the batch default
    withConf(spark, "spark.sql.shuffle.partitions" -> "8") {
      val stream = spark.readStream.schema(Encoders.product[Ev].schema)
        .parquet(src.toString).as[Ev]
      val q = build(stream).writeStream
        .format("memory").queryName(name).outputMode(mode).start()
      try {
        q.processAllAvailable()
        if (twice) { linkWave(src, eventsSrc(spark, dir), "w1"); q.processAllAvailable() }
      } finally {
        q.stop()
        // drop THIS query's state-store providers (keyed by runId, so
        // concurrent streams are untouched): a host running many
        // distinct queries would otherwise accumulate one provider
        // (with in-memory version maps) per operator x partition x query
        graft.streaming.Hygiene.unload(q.runId)
      }
    }
    // materialize the (already aggregated/bounded) result off the sink,
    // then release the sink + replay hardlinks
    val out = spark.table(name).localCheckpoint()
    spark.catalog.dropTempView(name)
    rmTree(src)
    out
  }

  /** Two independent file-source streams over the same replay payload
    * (separate sources, separate offsets — both see every wave), for
    * stream-stream joins. Same sink/cleanup protocol as [[streamed]].
    *
    * No sentinel: inner stream-stream joins emit matches in the batch
    * where both sides are present; the watermark only bounds state
    * EVICTION, which a bounded replay never depends on. The state
    * partition count is the constant [[JoinStatePartitions]]: the join
    * keeps 4 state stores per partition per side, so at 8 partitions
    * every micro-batch paid 32 store load/commit round-trips for a
    * watermark-bounded state that is tiny per key — 2 partitions
    * measured −0.6 s on the replay (r21 sweep) with the SAME plan
    * shape. Production streams size this by state volume, not by the
    * replay harness's constant.
    */
  val JoinStatePartitions = 2

  private def streamed2(spark: SparkSession, dir: String)(
      build: (Dataset[Ev], Dataset[Ev]) => DataFrame): DataFrame = {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_stream_src2")
    linkWave(src, eventsSrc(spark, dir), "w0")
    val name = s"graft_stream_${n.incrementAndGet()}"
    // inner-join matches are fully emitted by the data batches; the
    // no-data micro-batch that follows a watermark advance exists only
    // to EVICT state, which a bounded replay that stops right after
    // never reads again — skip its 0.5-0.7 s of store commits
    withConf(spark, "spark.sql.shuffle.partitions" -> JoinStatePartitions.toString,
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      def mkStream = spark.readStream.schema(Encoders.product[Ev].schema)
        .parquet(src.toString).as[Ev]
      val q = build(mkStream, mkStream).writeStream
        .format("memory").queryName(name).outputMode(OutputMode.Append()).start()
      try q.processAllAvailable()
      finally {
        q.stop()
        graft.streaming.Hygiene.unload(q.runId)
      }
    }
    val out = spark.table(name).localCheckpoint()
    spark.catalog.dropTempView(name)
    rmTree(src)
    out
  }

  def decls: Seq[Decl] = Seq(

    // STREAM-STREAM inner join (funnel attribution): clicks matched to
    // purchases by the same user within 10 event-time minutes. Both
    // sides carry watermarks so join state is EVICTED once the
    // watermark passes the interval — the property that lets this run
    // forever at 100 TB/day (state is O(watermark window), not O(
    // stream)). Matches emit append-mode as they form; the memory sink
    // holds only matched pairs, aggregated batch-side below.
    Decl("q_str_joinstream", (spark, dir) =>
      streamed2(spark, dir) { (a, b) =>
        // the join path requires TimestampType event time (ntz is only
        // allowed for windowed aggs); identity cast under the UTC session
        val clicks = a.filter(col("event_type") === "click")
          .select(col("user_id").as("u"), col("ts").cast("timestamp").as("click_ts"),
            col("event_id").as("click_id"))
          .withWatermark("click_ts", "30 minutes")
        val buys = b.filter(col("event_type") === "purchase")
          .select(col("user_id").as("bu"), col("ts").cast("timestamp").as("buy_ts"),
            col("event_id").as("buy_id"))
          .withWatermark("buy_ts", "30 minutes")
        clicks.join(buys,
          col("u") === col("bu") &&
            col("buy_ts") >= col("click_ts") &&
            col("buy_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"),
          "inner")
          .select(col("u").as("user_id"), col("click_id"), col("buy_id"))
      }.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("click_id")).as("first_click"),
          min(col("buy_id")).as("first_buy"))
        .orderBy(col("user_id").asc_nulls_first),
      Some(
        """SELECT a.user_id, COUNT(*) AS n_pairs,
          |  MIN(a.event_id) AS first_click, MIN(b.event_id) AS first_buy
          |FROM events a JOIN events b ON a.user_id = b.user_id
          |WHERE a.event_type = 'click' AND b.event_type = 'purchase'
          |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
          |GROUP BY a.user_id
          |ORDER BY a.user_id ASC NULLS FIRST""".stripMargin)),

    Decl("q_str_tumble", (spark, dir) =>
      streamed(spark, dir, OutputMode.Complete()) { ds =>
        ds.groupBy(window(col("ts"), "5 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            d4(sum(col("value").cast("decimal(18,6)"))).as("total"))
      }.filter(col("event_type") =!= "__sentinel")
        .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("total"))
        .orderBy(col("win_start").asc_nulls_first, col("event_type").asc_nulls_first,
          col("n").asc_nulls_first, col("total").asc_nulls_first),
      Some(
        """SELECT time_bucket(INTERVAL '5 minutes', ts) AS win_start, event_type,
          |  COUNT(*) AS n,
          |  D4SUM(value) AS total
          |FROM events
          |GROUP BY win_start, event_type
          |ORDER BY win_start ASC NULLS FIRST, event_type ASC NULLS FIRST,
          |  n ASC NULLS FIRST, total ASC NULLS FIRST""".stripMargin)),

    Decl("q_str_slide", (spark, dir) =>
      streamed(spark, dir, OutputMode.Complete()) { ds =>
        ds.groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n"))
      }.filter(col("event_type") =!= "__sentinel")
        .select(col("window.start").as("win_start"), col("event_type"), col("n"))
        .orderBy(col("win_start").asc_nulls_first, col("event_type").asc_nulls_first,
          col("n").asc_nulls_first),
      Some(
        """SELECT win_start, event_type, COUNT(*) AS n FROM (
          |  SELECT unnest([time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes',
          |                 time_bucket(INTERVAL '5 minutes', ts)]) AS win_start,
          |         event_type
          |  FROM events)
          |GROUP BY win_start, event_type
          |ORDER BY win_start ASC NULLS FIRST, event_type ASC NULLS FIRST,
          |  n ASC NULLS FIRST""".stripMargin)),

    // Session windows (5-minute gap) per user. Streamed in append mode
    // with a watermark; the sentinel closes the final sessions.
    Decl("q_str_session", (spark, dir) =>
      streamed(spark, dir, OutputMode.Append(), sentinel = true) { ds =>
        // watermarks require TIMESTAMP (not NTZ); session is UTC so the
        // values are identical — cast in, cast the window bounds back out
        ds.withColumn("ts", col("ts").cast("timestamp"))
          .withWatermark("ts", "1 minute")
          .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
      }.filter(col("user_id") =!= -1L)
        .select(col("session_window.start").cast("timestamp_ntz").as("sess_start"),
          col("session_window.end").cast("timestamp_ntz").as("sess_end"),
          col("user_id"), col("n_events"))
        .orderBy(col("user_id").asc_nulls_first, col("sess_start").asc_nulls_first,
          col("sess_end").asc_nulls_first, col("n_events").asc_nulls_first),
      Some(
        """WITH marked AS (
          |  SELECT user_id, ts,
          |    CASE WHEN lag(ts) OVER w IS NULL
          |           OR ts - lag(ts) OVER w > INTERVAL '5 minutes'
          |         THEN 1 ELSE 0 END AS brk
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
          |islands AS (
          |  SELECT user_id, ts,
          |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          |  FROM marked)
          |SELECT MIN(ts) AS sess_start,
          |  MAX(ts) + INTERVAL '5 minutes' AS sess_end,
          |  user_id, COUNT(*) AS n_events
          |FROM islands GROUP BY user_id, island
          |ORDER BY user_id ASC NULLS FIRST, sess_start ASC NULLS FIRST,
          |  sess_end ASC NULLS FIRST, n_events ASC NULLS FIRST""".stripMargin)),

    // Watermark + late-data semantics: append-mode tumbling count whose
    // windows only emit once the 10-minute watermark passes; the
    // sentinel closes all real windows, so the emitted set equals the
    // batch result (no late data in a single ordered replay).
    Decl("q_str_watermark", (spark, dir) =>
      streamed(spark, dir, OutputMode.Append(), sentinel = true) { ds =>
        ds.withColumn("ts", col("ts").cast("timestamp"))
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n"))
      }.filter(col("event_type") =!= "__sentinel")
        .select(col("window.start").cast("timestamp_ntz").as("win_start"),
          col("event_type"), col("n"))
        .orderBy(col("win_start").asc_nulls_first, col("event_type").asc_nulls_first,
          col("n").asc_nulls_first),
      Some(
        """SELECT time_bucket(INTERVAL '5 minutes', ts) AS win_start, event_type,
          |  COUNT(*) AS n
          |FROM events
          |GROUP BY win_start, event_type
          |ORDER BY win_start ASC NULLS FIRST, event_type ASC NULLS FIRST,
          |  n ASC NULLS FIRST""".stripMargin)),

    // Streaming dropDuplicates: the event stream is replayed TWICE;
    // keyed state dedups the second pass, so the sink equals one copy.
    Decl("q_str_dedup", (spark, dir) =>
      streamed(spark, dir, OutputMode.Append(), twice = true) { ds =>
        ds.dropDuplicates("event_id").toDF()
      }.filter(col("event_type") =!= "__sentinel")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("event_type").asc_nulls_first, col("n").asc_nulls_first),
      Some(
        """SELECT event_type, COUNT(*) AS n FROM events
          |GROUP BY event_type
          |ORDER BY event_type ASC NULLS FIRST, n ASC NULLS FIRST""".stripMargin)),

    // Arbitrary stateful processing: per-user running totals kept in
    // GroupState, exact decimal accumulation (merge-order independent).
    Decl("q_str_stateful", (spark, dir) =>
      streamed(spark, dir, OutputMode.Update()) { ds =>
        import ds.sparkSession.implicits._
        ds.groupByKey(_.user_id)
          .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
            (uid: Long, evs: Iterator[Ev], st: GroupState[(Long, String)]) =>
              val (n0, s0) = st.getOption.getOrElse((0L, "0"))
              var n = n0
              var s = BigDecimal(s0)
              evs.foreach { e =>
                n += 1
                s += BigDecimal(e.value).setScale(6, BigDecimal.RoundingMode.HALF_UP)
              }
              st.update((n, s.toString))
              (uid, n, s.setScale(4, BigDecimal.RoundingMode.HALF_UP).toString)
          }
          .toDF("user_id", "n_events", "total_value")
      }.filter(col("user_id") =!= -1L)
        .groupBy(col("user_id"))
        // update mode emits one row per user per batch: keep the final
        .agg(max(col("n_events")).as("n_events"),
          max_by(col("total_value"), col("n_events")).cast("decimal(18,4)").cast("double").as("total_value"))
        .orderBy(col("user_id").asc_nulls_first, col("n_events").asc_nulls_first),
      Some(
        """SELECT user_id, COUNT(*) AS n_events,
          |  D4SUM(value) AS total_value
          |FROM events GROUP BY user_id
          |ORDER BY user_id ASC NULLS FIRST, n_events ASC NULLS FIRST""".stripMargin)),

    // Stream-static join: streaming events against the static customer
    // dim (broadcast by Catalyst — no state needed on the static side).
    Decl("q_str_joinstatic", (spark, dir) => {
      val cust = Tables(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      streamed(spark, dir, OutputMode.Append()) { ds =>
        ds.join(cust, ds("user_id") === cust("c_custkey"), "inner")
          .select(col("event_id"), col("user_id"), col("c_mktsegment"), col("event_type"))
      }.groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment").asc_nulls_first, col("event_type").asc_nulls_first,
          col("n").asc_nulls_first)
    }, Some(
      """SELECT c_mktsegment, event_type, COUNT(*) AS n
        |FROM events JOIN customer ON user_id = c_custkey
        |WHERE event_type <> '__sentinel'
        |GROUP BY c_mktsegment, event_type
        |ORDER BY c_mktsegment ASC NULLS FIRST, event_type ASC NULLS FIRST,
        |  n ASC NULLS FIRST""".stripMargin)),

    // foreachBatch sink into a CATALOG table: every micro-batch is one
    // OCC-committed append snapshot — the reference's commit protocol
    // (C12) as the sink-side transaction model. The declared result
    // reads the committed table back through the catalog.
    Decl("q_str_sink", (spark, dir) => {
      import spark.implicits._
      val cname = s"graftsink${Integer.toHexString(dir.hashCode).takeRight(6)}"
      spark.conf.set(s"spark.sql.catalog.$cname", "graft.catalog.RelativeCatalog")
      spark.conf.set(s"spark.sql.catalog.$cname.warehouse", s"/tmp/graft_wh_$cname")
      spark.sql(s"DROP NAMESPACE IF EXISTS $cname.sink CASCADE")
      spark.sql(s"CREATE NAMESPACE $cname.sink")
      spark.sql(s"CREATE TABLE $cname.sink.ev " +
        "(event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE)")
      // two replay waves = two micro-batches = two OCC-committed append
      // snapshots; the feed is a parquet file-source stream (hardlinked
      // part files), so nothing table-sized ever crosses the driver
      val norm = eventsSrc(spark, dir)
      val parts = Files.list(Paths.get(norm)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
      val (waveA, waveB) = parts.splitAt(parts.size / 2 max 1)
      val src = Files.createTempDirectory("graft_stream_src")
      waveA.foreach(p => Files.createLink(src.resolve(s"w0-${p.getFileName}"), p))
      val q = spark.readStream.schema(Encoders.product[Ev].schema)
        .parquet(src.toString).as[Ev].writeStream
        .foreachBatch { (batch: Dataset[Ev], id: Long) =>
          batch.writeTo(s"$cname.sink.ev").append()
        }
        .outputMode(OutputMode.Append()).start()
      try {
        q.processAllAvailable()
        waveB.foreach(p => Files.createLink(src.resolve(s"w1-${p.getFileName}"), p))
        q.processAllAvailable()
      } finally { q.stop(); graft.streaming.Hygiene.unload(q.runId) }
      rmTree(src)
      spark.table(s"$cname.sink.ev")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("event_type").asc_nulls_first, col("n").asc_nulls_first)
    }, Some(
      """SELECT event_type, COUNT(*) AS n FROM events
        |GROUP BY event_type
        |ORDER BY event_type ASC NULLS FIRST, n ASC NULLS FIRST""".stripMargin)),

    // Streaming write-audit-publish: every micro-batch appends to an
    // `ingest` BRANCH through the OCC commit path, so `main` readers
    // see NOTHING new until the audited branch fast-forwards — gated
    // streaming ingest. The one row proves all three read states:
    // main during the stream (the seeded base only), the branch after
    // the stream (everything), and main after publish (everything).
    Decl("q_str_branch", (spark, dir) => {
      val cname = s"graftwap${Integer.toHexString(dir.hashCode).takeRight(6)}"
      spark.conf.set(s"spark.sql.catalog.$cname", "graft.catalog.RelativeCatalog")
      spark.conf.set(s"spark.sql.catalog.$cname.warehouse", s"/tmp/graft_wh_$cname")
      spark.sql(s"DROP NAMESPACE IF EXISTS $cname.wap CASCADE")
      spark.sql(s"CREATE NAMESPACE $cname.wap")
      spark.sql(s"CREATE TABLE $cname.wap.ev " +
        "(event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE)")
      // the audited base: every 10th event lands batch-side pre-stream
      val norm = eventsSrc(spark, dir)
      spark.read.parquet(norm).where(col("event_id") % 10 === 0)
        .writeTo(s"$cname.wap.ev").append()
      spark.sql(s"CALL $cname.system.create_ref(tbl => 'wap.ev', ref => 'ingest', ref_type => 'branch')")
      def tbl = spark.sessionState.catalogManager.catalog(cname)
        .asInstanceOf[graft.catalog.RelativeCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("wap"), "ev"))
        .asInstanceOf[graft.catalog.GraftTable]
      val src = Files.createTempDirectory("graft_stream_wap")
      linkWave(src, norm, "w0")
      val q = spark.readStream.schema(Encoders.product[Ev].schema)
        .parquet(src.toString)
        .where(col("event_id") % 10 =!= 0)
        .writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          // a FRESH handle per batch: each append CASes off the live
          // branch head, exactly like any other concurrent writer
          graft.catalog.Maintenance.appendToBranch(tbl, batch, "ingest")
        }
        .outputMode(OutputMode.Append()).start()
      try q.processAllAvailable()
      finally { q.stop(); graft.streaming.Hygiene.unload(q.runId) }
      rmTree(src)
      val mainDuring = spark.table(s"$cname.wap.ev").count()
      val branchDuring = spark.sql(s"SELECT COUNT(*) FROM $cname.wap.ev VERSION AS OF 'ingest'")
        .collect()(0).getLong(0)
      spark.sql(s"CALL $cname.system.fast_forward(tbl => 'wap.ev', branch => 'ingest')")
      spark.sql(s"CALL $cname.system.drop_ref(tbl => 'wap.ev', ref => 'ingest')")
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT COUNT(*) AS n_published, $mainDuring AS n_main_during,
           |  $branchDuring AS n_branch_during,
           |  D2(SUM(CAST(value AS DECIMAL(18,6)))) AS total
           |FROM $cname.wap.ev""".stripMargin))
    }, Some(
      """SELECT COUNT(*) AS n_published,
        |  (SELECT COUNT(*) FROM events WHERE event_id % 10 = 0) AS n_main_during,
        |  COUNT(*) AS n_branch_during,
        |  D2(SUM(CAST(value AS DECIMAL(18,6)))) AS total
        |FROM events""".stripMargin)),

    // The READ half of write-audit-publish: stream a BRANCH tail. The
    // auditor's pipeline consumes exactly what lands on the audit
    // branch — the shared prefix plus branch appends — while commits
    // that land on MAIN after the fork never enter the tail (the
    // batch anchor is the branch head and lineage is a parentId walk,
    // so main-only snapshots are off-lineage by construction). Leak
    // detection is oracled: the post-fork main batch carries marker
    // keys and the tail must contain zero of them.
    Decl("q_str_branchtail", (spark, dir) => {
      val cname = s"graftwap${Integer.toHexString(dir.hashCode).takeRight(6)}"
      spark.conf.set(s"spark.sql.catalog.$cname", "graft.catalog.RelativeCatalog")
      spark.conf.set(s"spark.sql.catalog.$cname.warehouse", s"/tmp/graft_wh_$cname")
      spark.sql(s"DROP NAMESPACE IF EXISTS $cname.btl CASCADE")
      spark.sql(s"CREATE NAMESPACE $cname.btl")
      spark.sql(s"CREATE TABLE $cname.btl.ord (o_orderkey BIGINT, o_totalprice DOUBLE)")
      Tables(spark, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
        .createOrReplaceTempView("orders_btl")
      spark.sql(s"INSERT INTO $cname.btl.ord SELECT * FROM orders_btl WHERE o_orderkey % 2 = 0")
      spark.sql(s"CALL $cname.system.create_ref(tbl => 'btl.ord', ref => 'audit', ref_type => 'branch')")
      def tbl = spark.sessionState.catalogManager.catalog(cname)
        .asInstanceOf[graft.catalog.RelativeCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("btl"), "ord"))
        .asInstanceOf[graft.catalog.GraftTable]
      graft.catalog.Maintenance.appendToBranch(tbl,
        spark.sql("SELECT * FROM orders_btl WHERE o_orderkey % 2 = 1"), "audit")
      // main moves past the fork with marker keys the tail must not see
      spark.sql(s"INSERT INTO $cname.btl.ord " +
        "SELECT o_orderkey + 10000000, o_totalprice FROM orders_btl WHERE o_orderkey % 100 = 0")
      val sink = s"btl_tail_${Integer.toHexString(dir.hashCode).takeRight(6)}"
      val q = spark.readStream.option("branch", "audit").table(s"$cname.btl.ord")
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append()).start()
      try q.processAllAvailable()
      finally { q.stop(); graft.streaming.Hygiene.unload(q.runId) }
      spark.sql(graft.Dsl.expandOracle(
        s"""SELECT COUNT(*) AS n,
           |  COUNT(*) FILTER (WHERE o_orderkey >= 10000000) AS leaked,
           |  D4SUM(o_totalprice) AS total
           |FROM $sink""".stripMargin))
    }, Some(
      """SELECT COUNT(*) AS n, CAST(0 AS BIGINT) AS leaked, D4SUM(o_totalprice) AS total
        |FROM orders""".stripMargin)),

    // transformWithState (Spark 4's arbitrary-state API, successor of
    // mapGroupsWithState): per-user running (count, exact-decimal sum)
    // in a ValueState backed by the ROCKSDB state-store provider — the
    // provider that keeps 100 TB/day state off-heap and spillable,
    // where the default HDFS-backed maps are JVM-heap bound. Same
    // replay + oracle as q_str_stateful, so the two APIs cross-check.
    Decl("q_str_tws", (spark, dir) =>
      withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        streamed(spark, dir, OutputMode.Update()) { ds =>
          import ds.sparkSession.implicits._
          ds.groupByKey(_.user_id)
            .transformWithState(new TwsRunningTotals,
              org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
            .toDF("user_id", "n_events", "total_value")
        }.filter(col("user_id") =!= -1L)
          .groupBy(col("user_id"))
          // update mode emits one row per user per batch: keep the final
          .agg(max(col("n_events")).as("n_events"),
            max_by(col("total_value"), col("n_events"))
              .cast("decimal(18,4)").cast("double").as("total_value"))
          .orderBy(col("user_id").asc_nulls_first, col("n_events").asc_nulls_first)
      }, Some(
      """SELECT user_id, COUNT(*) AS n_events,
        |  D4SUM(value) AS total_value
        |FROM events GROUP BY user_id
        |ORDER BY user_id ASC NULLS FIRST, n_events ASC NULLS FIRST""".stripMargin)),

    // Streaming CHANGELOG tail (`graft-cdc`): every commit to a
    // catalog table — the genesis state, a later append, a MOR
    // position delete — arrives as a micro-batch of rows tagged
    // `_change_type`, recomputed from snapshot metadata alone (the
    // O(rows-changed) read path; see graft.streaming.GraftCdcSource).
    // Each batch is APPENDED to a second catalog table by foreachBatch
    // (distributed, nothing table-sized touches the driver), and the
    // oracle checks the accumulated change rows: every event exactly
    // once as an insert, every deleted event exactly once as a delete.
    Decl("q_str_cdc", (spark, dir) => {
      val cname = s"graftcdc${Integer.toHexString(dir.hashCode).takeRight(6)}"
      spark.conf.set(s"spark.sql.catalog.$cname", "graft.catalog.RelativeCatalog")
      spark.conf.set(s"spark.sql.catalog.$cname.warehouse", s"/tmp/graft_wh_$cname")
      spark.sql(s"DROP NAMESPACE IF EXISTS $cname.cdc CASCADE")
      spark.sql(s"CREATE NAMESPACE $cname.cdc")
      spark.sql(s"CREATE TABLE $cname.cdc.src " +
        "(event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE) " +
        "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
      spark.sql(s"CREATE TABLE $cname.cdc.log " +
        "(event_id BIGINT, event_type STRING, change_type STRING)")
      spark.read.parquet(eventsSrc(spark, dir)).createOrReplaceTempView("cdc_ev_src")
      spark.sql(s"INSERT INTO $cname.cdc.src SELECT * FROM cdc_ev_src WHERE event_id % 2 = 0")
      val q = spark.readStream.format("graft-cdc")
        .option("table", s"$cname.cdc.src")
        .load()
        .writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          batch.select(col("event_id"), col("event_type"),
              col("_change_type").as("change_type"))
            .writeTo(s"$cname.cdc.log").append()
        }
        .outputMode(OutputMode.Append()).start()
      try {
        q.processAllAvailable() // batch 1: genesis replay of the seed
        spark.sql(s"INSERT INTO $cname.cdc.src SELECT * FROM cdc_ev_src WHERE event_id % 2 = 1")
        q.processAllAvailable() // batch 2: the appended half
        spark.sql(s"DELETE FROM $cname.cdc.src WHERE event_id % 10 = 0")
        q.processAllAvailable() // batch 3: MOR position deletes
      } finally { q.stop(); graft.streaming.Hygiene.unload(q.runId) }
      spark.table(s"$cname.cdc.log")
        .groupBy(col("change_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("change_type").asc_nulls_first, col("event_type").asc_nulls_first,
          col("n").asc_nulls_first)
    }, Some(
      """SELECT change_type, event_type, COUNT(*) AS n FROM (
        |  SELECT 'insert' AS change_type, event_type FROM events
        |  UNION ALL
        |  SELECT 'delete', event_type FROM events WHERE event_id % 10 = 0)
        |GROUP BY change_type, event_type
        |ORDER BY change_type ASC NULLS FIRST, event_type ASC NULLS FIRST,
        |  n ASC NULLS FIRST""".stripMargin)),

    // CDC admission control e2e: a 5-commit backlog under
    // max-commits-per-trigger=1 must drain as 5 bounded batches (the
    // REQUIRE pins one commit = one batch = exactly its 5 rows), then
    // the drained changelog must equal the batch read — content
    // exactness oracled cross-engine. This is "catch up on a 100 TB
    // table's change history without one unbounded batch".
    Decl("q_str_cdcrate", (spark, dir) => {
      val cname = s"graftcdr${Integer.toHexString(dir.hashCode).takeRight(6)}"
      spark.conf.set(s"spark.sql.catalog.$cname", "graft.catalog.RelativeCatalog")
      spark.conf.set(s"spark.sql.catalog.$cname.warehouse", s"/tmp/graft_wh_$cname")
      spark.sql(s"DROP NAMESPACE IF EXISTS $cname.cdc CASCADE")
      spark.sql(s"CREATE NAMESPACE $cname.cdc")
      spark.sql(s"CREATE TABLE $cname.cdc.nat (n_nationkey INT, n_name STRING)")
      spark.sql(s"CREATE TABLE $cname.cdc.log (n_nationkey INT, n_name STRING, batch_id BIGINT)")
      Tables(spark, dir, "nation").createOrReplaceTempView("cdcrate_nation_src")
      (0 until 5).foreach(i =>
        spark.sql(s"INSERT INTO $cname.cdc.nat SELECT n_nationkey, n_name " +
          s"FROM cdcrate_nation_src WHERE n_nationkey % 5 = $i"))
      val q = spark.readStream.format("graft-cdc")
        .option("table", s"$cname.cdc.nat")
        .option("max-commits-per-trigger", "1")
        .load()
        .writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          batch.select(col("n_nationkey"), col("n_name"), lit(id).as("batch_id"))
            .writeTo(s"$cname.cdc.log").append()
        }
        .outputMode(OutputMode.Append()).start()
      try q.processAllAvailable()
      finally { q.stop(); graft.streaming.Hygiene.unload(q.runId) }
      val sizes = spark.table(s"$cname.cdc.log")
        .groupBy(col("batch_id")).count().collect().map(_.getLong(1))
      require(sizes.length >= 5 && sizes.forall(_ <= 5),
        s"backlog not rate-limited: batch sizes ${sizes.mkString(",")}")
      spark.table(s"$cname.cdc.log")
        .select(col("n_nationkey"), col("n_name"))
        .orderBy(col("n_nationkey").asc_nulls_first, col("n_name").asc_nulls_first)
    }, Some(
      """SELECT n_nationkey, n_name FROM nation
        |ORDER BY n_nationkey ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)),

    // Streaming CDC upsert: each micro-batch first collapses to its
    // latest row per key (the mandatory pre-MERGE reduction — multiple
    // source matches per key would be ambiguous), then MERGEs into a
    // catalog table guarded by a (ts, event_id) recency predicate so
    // out-of-order batches can never regress a key. The final table
    // state is batching-independent — exactly latest-per-key — which
    // is what the DuckDB oracle checks. This is the standard
    // stream-to-serving-table upsert; at 100 TB/day the per-batch
    // window is keyed state sharded across executors and the MERGE's
    // group-based rewrite touches only files containing matched keys
    // (runtime group filtering), not the whole table.
    Decl("q_str_upsert", (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cname = s"graftups${Integer.toHexString(dir.hashCode).takeRight(6)}"
      spark.conf.set(s"spark.sql.catalog.$cname", "graft.catalog.RelativeCatalog")
      spark.conf.set(s"spark.sql.catalog.$cname.warehouse", s"/tmp/graft_wh_$cname")
      spark.sql(s"DROP NAMESPACE IF EXISTS $cname.cdc CASCADE")
      spark.sql(s"CREATE NAMESPACE $cname.cdc")
      spark.sql(s"CREATE TABLE $cname.cdc.users " +
        "(user_id BIGINT, event_id BIGINT, ts TIMESTAMP_NTZ, event_type STRING, value DOUBLE)")
      val norm = eventsSrc(spark, dir)
      val parts = Files.list(Paths.get(norm)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
      val (waveA, waveB) = parts.splitAt(parts.size / 2 max 1)
      val src = Files.createTempDirectory("graft_stream_upsert")
      waveA.foreach(p => Files.createLink(src.resolve(s"w0-${p.getFileName}"), p))
      val view = s"${cname}_updates"
      val q = spark.readStream.schema(Encoders.product[Ev].schema)
        .parquet(src.toString).as[Ev](Encoders.product[Ev]).writeStream
        .foreachBatch { (batch: Dataset[Ev], id: Long) =>
          val w = Window.partitionBy(col("user_id"))
            .orderBy(col("ts").desc, col("event_id").desc)
          batch.toDF()
            .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
            .select(col("user_id"), col("event_id"), col("ts"),
              col("event_type"), col("value"))
            .createOrReplaceTempView(view)
          batch.sparkSession.sql(
            s"""MERGE INTO $cname.cdc.users t USING $view s
               |ON t.user_id = s.user_id
               |WHEN MATCHED AND (s.ts > t.ts OR (s.ts = t.ts AND s.event_id > t.event_id))
               |  THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          ()
        }
        .outputMode(OutputMode.Update()).start()
      try {
        q.processAllAvailable()
        waveB.foreach(p => Files.createLink(src.resolve(s"w1-${p.getFileName}"), p))
        q.processAllAvailable()
      } finally { q.stop(); graft.streaming.Hygiene.unload(q.runId) }
      rmTree(src)
      spark.table(s"$cname.cdc.users")
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"), col("value"))
        .orderBy(col("user_id").asc_nulls_first)
    }, Some(
      """SELECT user_id, event_id, ts, event_type, value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1
        |ORDER BY user_id ASC NULLS FIRST""".stripMargin)),

    // Streaming corpus dedup: documents replayed TWICE through a
    // stateful exact-dedup on (lang, content-hash) — the online
    // ingest-time variant of q_llm_exactdedup (drop re-crawls before
    // they ever land). State is hash-keyed, which is exactly the
    // shard key Structured Streaming distributes; in production a
    // watermark on an ingest-time column bounds it. The dedup key
    // includes lang so the surviving row's group is deterministic
    // regardless of arrival order (same text may recur across docs);
    // Complete-mode counts make the final snapshot the answer — no
    // sentinel/watermark flush needed.
    Decl("q_str_docdedup", (spark, dir) =>
      streamedDocs(spark, dir, twice = true) { ds =>
        ds.withColumn("h", sha2(lower(trim(col("text"))), 256))
          .dropDuplicates("lang", "h")
          .groupBy(col("lang")).agg(count(lit(1)).as("n_unique"))
      }.orderBy(col("lang").asc_nulls_first),
      Some(
        """SELECT lang, COUNT(DISTINCT sha256(lower(trim(text)))) AS n_unique
          |FROM documents GROUP BY lang
          |ORDER BY lang ASC NULLS FIRST""".stripMargin)),

    // Streaming decontamination gate: corpus documents stream through
    // a 5-gram match against the STATIC benchmark gram set (docs 0-9,
    // computed batch-side, broadcast into every micro-batch) — the
    // ingest-time variant of q_llm_contamination, same oracle. The
    // stream side explodes grams and dedups (doc_id, gram) in state
    // before counting, because streaming aggs can't COUNT(DISTINCT);
    // the dedup key is also the natural state shard key.
    Decl("q_str_contamination", (spark, dir) => {
      val ws = filter(split(lower(col("text")), " "), w => w =!= "")
      val bench = Tables(spark, dir, "documents")
        .withColumn("ws", ws)
        .filter(col("doc_id") < 10 && size(col("ws")) >= 5)
        .select(explode(expr(
          "transform(sequence(0, size(ws)-5), i -> concat_ws(' ', slice(ws, i+1, 5)))")).as("g"))
        .distinct().localCheckpoint()
      streamedDocs(spark, dir) { docs =>
        docs.toDF()
          .withColumn("ws", ws)
          .filter(col("doc_id") >= 10 && size(col("ws")) >= 5)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(ws)-5), i -> concat_ws(' ', slice(ws, i+1, 5)))")).as("g"))
          .join(broadcast(bench), "g")
          .dropDuplicates("doc_id", "g")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("hits"))
      }.orderBy(col("doc_id").asc_nulls_first)
    }, Some(
      """WITH w AS (SELECT doc_id,
        |            list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
        |          FROM documents),
        |g AS (SELECT doc_id,
        |        unnest(list_transform(range(1, len(ws) - 3),
        |          i -> array_to_string(ws[i:i+4], ' '))) AS g
        |      FROM w WHERE len(ws) >= 5),
        |b AS (SELECT DISTINCT g FROM g WHERE doc_id < 10)
        |SELECT g.doc_id, CAST(COUNT(DISTINCT g.g) AS BIGINT) AS hits
        |FROM g JOIN b USING (g) WHERE g.doc_id >= 10
        |GROUP BY g.doc_id
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),
  )

  /** transformWithState processor for [[q_str_tws]]: per-user running
    * (count, exact BigDecimal sum) in a ValueState — the string-coded
    * decimal makes the accumulation merge-order independent, exactly
    * like the mapGroupsWithState twin (q_str_stateful). */
  class TwsRunningTotals
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, (Long, Long, String)]
    with Serializable {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, String)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, String)]("agg",
        Encoders.tuple(Encoders.scalaLong, Encoders.STRING),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long, String)] = {
      val (n0, s0) = if (st.exists()) st.get() else (0L, "0")
      var n = n0
      var s = BigDecimal(s0)
      rows.foreach { e =>
        n += 1
        s += BigDecimal(e.value).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }
      st.update((n, s.toString))
      Iterator.single((key, n, s.setScale(4, BigDecimal.RoundingMode.HALF_UP).toString))
    }
  }

  case class Doc(doc_id: Long, text: String, lang: String, source: String)

  private val docCols = Seq(col("doc_id"), col("text"), col("lang"), col("source"))

  /** Documents replay payload, normalized like [[eventsSrc]]. */
  private def docsSrc(spark: SparkSession, dir: String): String =
    normCache.getOrElseUpdate(s"documents:$dir", {
      val out = Files.createTempDirectory("graft_stream_docs").toString
      Tables(spark, dir, "documents").select(docCols: _*)
        .repartition(4).write.mode("overwrite").parquet(out)
      out
    })

  /** [[streamed]] for the documents table: Complete-mode aggregations
    * only (no watermark/sentinel machinery — the final snapshot IS the
    * result). */
  private def streamedDocs(spark: SparkSession, dir: String,
      twice: Boolean = false)(
      build: org.apache.spark.sql.Dataset[Doc] => DataFrame): DataFrame = {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_stream_docsrc")
    linkWave(src, docsSrc(spark, dir), "w0")
    val name = s"graft_stream_${n.incrementAndGet()}"
    withConf(spark, "spark.sql.shuffle.partitions" -> "8") {
      val stream = spark.readStream.schema(Encoders.product[Doc].schema)
        .parquet(src.toString).as[Doc]
      val q = build(stream).writeStream
        .format("memory").queryName(name).outputMode(OutputMode.Complete()).start()
      try {
        q.processAllAvailable()
        if (twice) { linkWave(src, docsSrc(spark, dir), "w1"); q.processAllAvailable() }
      } finally {
        q.stop()
        graft.streaming.Hygiene.unload(q.runId)
      }
    }
    val out = spark.table(name).localCheckpoint()
    spark.catalog.dropTempView(name)
    rmTree(src)
    out
  }
}
