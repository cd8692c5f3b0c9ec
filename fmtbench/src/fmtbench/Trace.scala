package fmtbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Spans and listeners of a traced run (`--trace 1`).
  *
  * Harness spans are recorded around the calls into each layer (the
  * program itself carries no spans). Spark's own listeners add a span
  * per job, stage and micro-batch; each carries the id of the
  * operation that caused it through the job group [[Recorder.op]] sets
  * (streaming jobs run under their query's run id, which
  * [[streamStarted]] maps back to the operation). Everything stays in
  * memory and is written out once, at the end of the run.
  */
object Trace extends AdaptiveSparkPlanHelper {
  final case class Span(id: Int, var parent: Int, op: String, layer: String, name: String,
      start: Double, end: Double, attrs: Map[String, Double] = Map.empty) {
    def dur: Double = end - start
  }

  @volatile private var on = false
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var nextId = 1
  private val runToOp = mutable.Map[String, String]()
  /** listener-side raw records (listener bus thread) */
  private final case class Job(id: Int, group: String, start: Double, var end: Double, stages: Seq[Int])
  private final case class StageAgg(var tasks: Int = 0, var taskMs: Double = 0, var shuffle: Long = 0,
      var spill: Long = 0, var start: Double = 0, var end: Double = 0)
  private val jobs = mutable.Map[Int, Job]()
  private val stages = mutable.Map[Int, StageAgg]()
  private val progress = mutable.ArrayBuffer[(String, Double, Map[String, Double], Long)]()
  private var gcAtStart = (0.0, 0L)
  private var listener: SparkListener = _
  private var sListener: StreamingQueryListener = _

  def start(spark: SparkSession, rec: Recorder): Unit = {
    gcAtStart = Jvm.gc()
    listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = lock {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        jobs(e.jobId) = Job(e.jobId, g, e.time.toDouble, e.time.toDouble, e.stageIds)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = lock {
        jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock {
        val i = e.stageInfo
        val s = stages.getOrElseUpdate(i.stageId, StageAgg())
        s.start = i.submissionTime.map(_.toDouble).getOrElse(0.0)
        s.end = i.completionTime.map(_.toDouble).getOrElse(s.start)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock {
        val s = stages.getOrElseUpdate(e.stageId, StageAgg())
        s.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          s.taskMs += m.executorRunTime
          s.shuffle += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    sListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = lock {
        val p = e.progress
        val ts = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val d = p.durationMs.entrySet().toArray.map { x =>
          val en = x.asInstanceOf[java.util.Map.Entry[String, java.lang.Long]]
          en.getKey -> en.getValue.toDouble
        }.toMap
        progress += ((p.runId.toString, ts, d, p.numInputRows))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(sListener)
    on = true
  }

  def stop(spark: SparkSession): Unit = if (on) {
    on = false
    org.apache.spark.FmtbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(sListener)
  }

  private def lock[T](body: => T): T = synchronized(body)

  /** Record `body` as a span of `layer` under the current span. */
  def layer[T](layer: String, name: String, attrs: => Map[String, Double] = Map.empty)(body: => T): T =
    if (!on) body
    else {
      val id = lock { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val t0 = Clock.nowMs
      try body
      finally {
        stack.pop()
        val t1 = Clock.nowMs
        lock { spans += Span(id, parent, currentOp, layer, name, t0, t1, attrs) }
      }
    }

  private var opId = ""
  private def currentOp: String = opId

  /** Bind the spans recorded inside `body` to operation `id`. */
  def inOp[T](id: String, name: String, cls: String)(body: => T): T =
    if (!on) body
    else {
      opId = id
      try layer("harness", s"$cls:$name")(body) finally opId = ""
    }

  /** A streaming query started by the current operation: its jobs and
    * micro-batches belong to that operation. */
  def streamStarted(runId: String, rec: Recorder): Unit =
    if (on) lock(rec.currentOp.foreach(op => runToOp(runId) = op))

  /** After a measured commit to `table`: record what it added. */
  def afterCommit(rec: Recorder, table: String, dml: Boolean = false): Unit =
    if (on && rec.measuring) {
      val c = Probes.commitStats(rec.spark, table)
      rec.commitMetaBytes += c.metadataBytes
      rec.commitFiles += c.dataFiles
      rec.commitDataBytes += c.dataBytes
      if (dml) {
        rec.dmlFiles += c.dataFiles + c.deleteFiles
        rec.dmlBytes += c.dataBytes + c.deleteBytes
      }
    }

  /** Run a query and collect its rows; when tracing, record Catalyst's
    * phases (QueryExecution.tracker) and the scan's planned files. */
  def query(name: String)(df: => DataFrame): Array[Row] = {
    if (!on) return df.collect()
    layer("sql", name) {
      val t0 = Clock.nowMs
      val d = df
      val rows = d.collect()
      val t1 = Clock.nowMs
      val qe = d.queryExecution
      val ph = qe.tracker.phases
      Seq("analysis" -> "sql.analyze", "optimization" -> "sql.optimize", "planning" -> "sql.plan")
        .foreach { case (p, l) => ph.get(p).foreach { s =>
          lock { nextId += 1; spans += Span(nextId, stack.head, opId, l, p,
            s.startTimeMs.toDouble max t0, s.endTimeMs.toDouble) }
        } }
      val planEnd = ph.get("planning").map(_.endTimeMs.toDouble).getOrElse(t0)
      val scans = collectWithSubqueries(qe.executedPlan) { case b: BatchScanExec => b }
      val planned = scans.map { b =>
        b.inputPartitions.flatMap {
          case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
          case p => Seq(p.toString)
        }.distinct.size
      }.sum
      val inSnapshot = scans.map(b => b.table match {
        case g: graft.catalog.GraftTable => g.readSnapshot.map(_.dataFileCount).getOrElse(0)
        case _ => 0
      }).sum
      lock { nextId += 1; spans += Span(nextId, stack.head, opId, "sql.exec", "execute",
        planEnd max t0, t1, Map("files_planned" -> planned.toDouble,
          "files_in_snapshot" -> inSnapshot.toDouble, "scans" -> scans.size.toDouble)) }
      rows
    }
  }

  final case class Summary(perLayer: Map[String, (Double, String)], report: Seq[String])

  /** Times that are 0 on every run of a workload that does not use the
    * layer: reported in the trace file and the traced run's report, not
    * in the result line's per-layer metrics. */
  private val TraceOnly = Set("streaming.latest_offset_ms", "streaming.get_batch_ms",
    "streaming.query_planning_ms", "streaming.add_batch_ms", "streaming.wal_commit_ms",
    "maintenance.rewrite_deletes_ms", "maintenance.expire_ms")

  /** Attribute listener records to operations, build the span tree,
    * compute per-layer self time and the per-layer metrics, and write
    * the trace file. */
  def summary(spark: SparkSession, rec: Recorder, a: Main.Args, probes: Map[String, Double],
      e2e: Map[String, (Double, String)], setups: Seq[Double], windowS: Double): Summary = {
    org.apache.spark.FmtbenchBus.drain(spark.sparkContext)
    val (gcMs, gcN) = Jvm.gc()
    val measured = rec.ops.map(_._1).toSet
    val all = lock {
      val out = mutable.ArrayBuffer[Span]() ++ spans
      // a long-running stream's jobs belong to the operation that was
      // waiting on it when they started
      def opAt(t: Double) = rec.ops.find(o => o._4 - 1 <= t && t <= o._5 + 1).map(_._1).getOrElse("")
      def opOf(group: String, t: Double) =
        if (group.startsWith("op")) group else runToOp.getOrElse(group, opAt(t))
      progress.foreach { case (run, ts, d, rows) =>
        nextId += 1
        out += Span(nextId, 0, runToOp.getOrElse(run, opAt(ts)), "streaming.batch", "micro-batch",
          ts, ts + d.getOrElse("triggerExecution", 0.0), d + ("rows" -> rows.toDouble))
      }
      jobs.values.toSeq.sortBy(_.id).foreach { j =>
        nextId += 1
        val jid = nextId
        val st = j.stages.flatMap(stages.get)
        out += Span(jid, 0, opOf(j.group, j.start), "spark.job", s"job ${j.id}", j.start, j.end,
          Map("stages" -> st.size.toDouble, "tasks" -> st.map(_.tasks).sum.toDouble,
            "task_ms" -> st.map(_.taskMs).sum, "shuffle_bytes" -> st.map(_.shuffle).sum.toDouble,
            "spill_bytes" -> st.map(_.spill).sum.toDouble))
        st.filter(_.end > 0).foreach { s =>
          nextId += 1
          out += Span(nextId, jid, opOf(j.group, j.start), "spark.stage", "stage", s.start, s.end,
            Map("tasks" -> s.tasks.toDouble, "task_ms" -> s.taskMs))
        }
      }
      out.toSeq
    }
    // listener spans hang under the deepest harness span of their op
    // that contains their start (1 ms slack for clock granularity)
    val byOp = all.groupBy(_.op)
    all.filter(s => s.parent == 0 && (s.layer == "spark.job" || s.layer == "streaming.batch"))
      .foreach { s =>
        val cands = byOp.getOrElse(s.op, Nil).filter(c => c.id != s.id &&
          c.layer != "spark.job" && c.layer != "spark.stage" &&
          (s.layer == "spark.job" || c.layer != "streaming.batch") &&
          c.start - 1 <= s.start && s.start <= c.end + 1)
        if (cands.nonEmpty) s.parent = cands.minBy(_.dur).id
      }
    val children = all.groupBy(_.parent)
    def selfMs(s: Span): Double = {
      val iv = children.getOrElse(s.id, Nil).map(c => (c.start max s.start, c.end min s.end))
        .filter { case (x, y) => y > x }.sortBy(_._1)
      var covered = 0.0
      var cur = (Double.NaN, Double.NaN)
      iv.foreach { case (x, y) =>
        if (cur._1.isNaN) cur = (x, y)
        else if (x <= cur._2) cur = (cur._1, cur._2 max y)
        else { covered += cur._2 - cur._1; cur = (x, y) }
      }
      if (!cur._1.isNaN) covered += cur._2 - cur._1
      (s.dur - covered) max 0.0
    }
    val inWindow = all.filter(s => measured(s.op))
    val selfByLayer = inWindow.groupBy(s => s.layer.takeWhile(_ != '.'))
      .map { case (l, ss) => l -> ss.map(selfMs).sum }
    val windowMs = rec.ops.map(o => o._5 - o._4).sum

    // per-layer metrics
    def sumAttr(layer: String, k: String, ss: Seq[Span] = inWindow) =
      ss.filter(_.layer == layer).map(_.attrs.getOrElse(k, 0.0)).sum
    def perOp(v: Double, n: Int) = if (n == 0) 0.0 else v / n
    val qSpans = inWindow.filter(_.layer == "sql")
    val nq = qSpans.size
    val execs = inWindow.filter(_.layer == "sql.exec")
    val planned = execs.map(_.attrs.getOrElse("files_planned", 0.0)).sum
    val inSnap = execs.map(_.attrs.getOrElse("files_in_snapshot", 0.0)).sum
    val jobSpans = inWindow.filter(_.layer == "spark.job")
    val taskMs = sumAttr("spark.job", "task_ms")
    // writer: the window's appends and row-level writes; a workload that
    // writes nothing in its window (analytics) reports its last set-up
    // append instead
    val wAll = all.filter(s => s.layer == "writer" || s.layer == "mor")
    val wSpans = { val w = wAll.filter(s => measured(s.op)); if (w.nonEmpty) w else wAll.takeRight(1) }
    def writerSplit(w: Span): (Double, Double, Double) = {
      val js = all.filter(s => s.layer == "spark.job" && s.op == w.op &&
        s.start >= w.start - 1 && s.end <= w.end + 1)
      if (js.isEmpty) (w.dur, 0.0, 0.0)
      else {
        val first = js.map(_.start).min
        val last = js.map(_.end).max
        ((first - w.start) max 0, last - first, (w.end - last) max 0)
      }
    }
    val ws = wSpans.map(writerSplit)
    val nw = ws.size
    val drains = inWindow.filter(s => s.layer == "streaming" && s.name == "drain")
    val batches = inWindow.filter(_.layer == "streaming.batch")
    def batchMs(k: String) = perOp(batches.map(_.attrs.getOrElse(k, 0.0)).sum, drains.size max 1)
    val g = (gcMs - gcAtStart._1, gcN - gcAtStart._2)

    val layerMetrics: Seq[(String, Double, String)] = Seq(
      ("catalog.load_table_ms", probes.getOrElse("catalog.load_table_ms", 0.0), "ms"),
      ("tableops.refresh_ms", probes.getOrElse("tableops.refresh_ms", 0.0), "ms"),
      ("tableops.metadata_versions", probes.getOrElse("tableops.metadata_versions", 0.0), "count"),
      ("meta.metadata_json_bytes", probes.getOrElse("meta.metadata_json_bytes", 0.0), "bytes"),
      ("meta.parse_ms", probes.getOrElse("meta.parse_ms", 0.0), "ms"),
      ("meta.serialize_ms", probes.getOrElse("meta.serialize_ms", 0.0), "ms"),
      ("meta.snapshots", probes.getOrElse("meta.snapshots", 0.0), "count"),
      ("meta.inline_file_entries", probes.getOrElse("meta.inline_file_entries", 0.0), "count"),
      ("meta.bytes_written_per_commit", perOp(rec.commitMetaBytes.sum, rec.commitMetaBytes.size), "bytes"),
      ("writer.pre_job_ms", perOp(ws.map(_._1).sum, nw), "ms"),
      ("writer.job_ms", perOp(ws.map(_._2).sum, nw), "ms"),
      ("writer.post_job_ms", perOp(ws.map(_._3).sum, nw), "ms"),
      ("writer.files_per_commit", perOp(rec.commitFiles.sum, rec.commitFiles.size), "count"),
      ("writer.data_bytes_per_commit", perOp(rec.commitDataBytes.sum, rec.commitDataBytes.size), "bytes"),
      ("scan.files_in_snapshot", probes.getOrElse("scan.files_in_snapshot", 0.0), "count"),
      ("scan.files_planned", perOp(planned, nq), "count"),
      ("scan.prune_ratio", if (inSnap == 0) 0.0 else 1.0 - planned / inSnap, "ratio"),
      ("scan.chunks_cached", graft.catalog.ChunkCache.cachedChunks.toDouble, "count"),
      ("sql.analyze_ms", perOp(inWindow.filter(_.layer == "sql.analyze").map(_.dur).sum, nq), "ms"),
      ("sql.optimize_ms", perOp(inWindow.filter(_.layer == "sql.optimize").map(_.dur).sum, nq), "ms"),
      ("sql.plan_ms", perOp(inWindow.filter(_.layer == "sql.plan").map(_.dur).sum, nq), "ms"),
      ("sql.exec_ms", perOp(execs.map(_.dur).sum, nq), "ms"),
      ("spark.jobs", jobSpans.size.toDouble, "count"),
      ("spark.stages", sumAttr("spark.job", "stages"), "count"),
      ("spark.tasks", sumAttr("spark.job", "tasks"), "count"),
      ("spark.task_ms", taskMs, "ms"),
      ("spark.core_util", if (windowMs == 0) 0.0 else taskMs / (windowMs * a.cores), "ratio"),
      ("spark.shuffle_bytes", sumAttr("spark.job", "shuffle_bytes"), "bytes"),
      ("spark.spill_bytes", sumAttr("spark.job", "spill_bytes"), "bytes"),
      ("streaming.latest_offset_ms", batchMs("latestOffset"), "ms"),
      ("streaming.get_batch_ms", batchMs("getBatch"), "ms"),
      ("streaming.query_planning_ms", batchMs("queryPlanning"), "ms"),
      ("streaming.add_batch_ms", batchMs("addBatch"), "ms"),
      ("streaming.wal_commit_ms", batchMs("walCommit"), "ms"),
      ("streaming.batches_per_drain", perOp(batches.count(_.attrs.getOrElse("rows", 0.0) > 0), drains.size), "count"),
      ("streaming.rows_per_drain", perOp(batches.map(_.attrs.getOrElse("rows", 0.0)).sum, drains.size), "count"),
      ("mor.live_delete_files", probes.getOrElse("mor.live_delete_files", 0.0), "count"),
      ("mor.dml_files_added", perOp(rec.dmlFiles.sum, rec.dmlFiles.size), "count"),
      ("mor.dml_bytes_added", perOp(rec.dmlBytes.sum, rec.dmlBytes.size), "bytes"),
      ("maintenance.rewrite_deletes_ms", rec.maint.getOrElse("rewrite_deletes_ms", 0.0), "ms"),
      ("maintenance.expire_ms", rec.maint.getOrElse("expire_ms", 0.0), "ms"),
      ("maintenance.files_rewritten", rec.maint.getOrElse("files_rewritten", 0.0), "count"),
      ("maintenance.files_removed", rec.maint.getOrElse("files_removed", 0.0), "count"),
      ("jvm.gc_ms", g._1, "ms"),
      ("jvm.gc_count", g._2.toDouble, "count"))

    val traceFile = a.traceDir.resolve(s"${a.workload}-seed${a.seed}.json")
    val doc = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "window_s" -> windowS, "setup_s" -> setups,
      "e2e_traced" -> e2e.map { case (k, (v, _)) => k -> v },
      "self_ms_by_layer" -> selfByLayer,
      "layer_metrics" -> layerMetrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "ops" -> rec.ops.map { case (id, cls, name, s, e) =>
        Map("id" -> id, "class" -> cls, "name" -> name, "start_ms" -> s, "end_ms" -> e) },
      "spans" -> all.sortBy(_.start).map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> selfMs(s), "attrs" -> s.attrs)))
    java.nio.file.Files.writeString(traceFile, Json.write(doc))

    val report = Seq(s"  trace: ${all.size} spans over ${rec.ops.size} ops -> $traceFile",
      "  self time by layer (ms, window): " +
        selfByLayer.toSeq.sortBy(-_._2).map { case (l, v) => f"$l=$v%.0f" }.mkString(" ")) ++
      layerMetrics.map { case (k, v, u) => f"  $k%-32s $v%.4f $u" }
    Summary(layerMetrics.collect { case (k, v, u) if !TraceOnly(k) => k -> (v, u) }.toMap, report)
  }
}
