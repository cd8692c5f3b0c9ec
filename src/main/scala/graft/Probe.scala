package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.streaming.StreamingQueryListener
import java.nio.file.{Files, Paths}

/** Dev-only measurement harness for the optimization rounds (guide §1).
  *
  * For each named query: one untimed warm-up, then a timed noop-sink run
  * with (a) `.explain("formatted")` written to target/plans/<name>_<tag>.txt,
  * (b) per-stage task-time/shuffle totals, (c) per-micro-batch
  * durationMs breakdowns for any streaming query the op starts.
  *
  * Usage: sbt "runMain graft.Probe <tag> <query...>"  (tag = before|after)
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("before")
    val names = args.drop(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/nation.parquet").count(): Unit

    // per-stage accounting (thread-safe enough for a sequential probe)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val m = i.taskMetrics
        stages.add(f"stage ${i.stageId}%4d tasks=${i.numTasks}%3d " +
          f"wall=${(i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)) / 1e3}%7.2fs " +
          f"taskTime=${m.executorRunTime / 1e3}%8.2fs gc=${m.jvmGCTime / 1e3}%6.2fs " +
          f"shufW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.2fMB " +
          f"shufR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.2fMB " +
          f"in=${m.inputMetrics.bytesRead / 1e6}%8.2fMB  [${i.name.takeWhile(_ != '\n').take(80)}]")
      }
    })
    // streaming micro-batch accounting
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        batches.add(s"stream START ${e.name} at ${System.nanoTime() / 1000000}ms")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        batches.add(s"batch ${p.batchId} rows=${p.numInputRows} total=${d.get("triggerExecution")}ms " +
          s"addBatch=${d.get("addBatch")} getBatch=${d.get("getBatch")} latestOffset=${d.get("latestOffset")} " +
          s"plan=${d.get("queryPlanning")} walCommit=${d.get("walCommit")} commitOffsets=${d.get("commitOffsets")} " +
          s"stateOps=${p.stateOperators.map(s => s"commit=${s.commitTimeMs}ms mem=${s.memoryUsedBytes}").mkString("|")}")
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        batches.add(s"stream END at ${System.nanoTime() / 1000000}ms")
    })

    Files.createDirectories(Paths.get("target/plans"))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      println(s"\n===================== $name =====================")
      // warm-up (untimed)
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => println(s"[probe] warmup failed: $e") }
      graft.streaming.Hygiene.reset(spark); System.gc()
      stages.clear(); batches.clear()
      // two timed runs, min (the bench's own protocol); stages/batches
      // from the last run
      var df: org.apache.spark.sql.DataFrame = null
      val runs = (1 to 2).map { _ =>
        graft.streaming.Hygiene.reset(spark); System.gc()
        stages.clear(); batches.clear()
        val t0 = System.nanoTime()
        df = fn(spark, sfDir)
        val tPlan = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t1 = System.nanoTime()
        ((tPlan - t0) / 1e9, (t1 - tPlan) / 1e9, (t1 - t0) / 1e9)
      }
      val best = runs.minBy(_._3)
      println(f"[probe] $name build=${best._1}%.3fs exec=${best._2}%.3fs total=${best._3}%.3fs (runs: ${runs.map(r => f"${r._3}%.3f").mkString(", ")})")
      // formatted plan of the RETURNED frame (the declared query)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.write(Paths.get(s"target/plans/${name}_$tag.txt"), plan.getBytes("UTF-8"))
      stages.forEach(s => println(s))
      batches.forEach(s => println(s))
      graft.streaming.Hygiene.reset(spark); System.gc()
    }
    spark.stop()
  }
}
