package fmtbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Entry point of one benchmark run: one workload, one seed, one JVM.
  *
  * Protocol: build the workload's tables [[Workload.setupReps]] times
  * (fresh warehouse each time, timed; the median is `setup_s`), warm
  * up once, untimed, then run the closed loop — one client thread, next operation only after
  * the previous one returned — until `--seconds` have elapsed, or
  * until a fixed-work workload has made its [[Workload.windowOps]], then
  * check every output against its oracle and take the end-of-run
  * measurements (space, live heap, and with `--trace 1` the per-layer
  * probes). The result goes to `--out` as JSON; `run.py` prints it.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, work: Path, out: Path, traceDir: Path)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("cores").toInt, Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("out")).toAbsolutePath, Paths.get(need("trace-dir")).toAbsolutePath)
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"fmtbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("spark-warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", a.work.resolve("ckpt").toString)
      // keep Spark's in-memory status store small, so live_heap_mb
      // measures graft and the workload, not how many queries ran
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "200")
      .config("spark.sql.streaming.ui.retainedQueries", "5")
      .config("spark.sql.streaming.numRecentProgressUpdates", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The workloads the build's class-loading pass runs. */
  val Trained: Seq[String] = Seq("ingest", "cdc_upsert")

  private def workload(name: String, spark: SparkSession, rec: Recorder, seed: Long): Workload =
    name match {
      case "ingest" => new Ingest(spark, rec, seed)
      case "analytics" => new Analytics(spark, rec, seed)
      case "cdc_upsert" => new CdcUpsert(spark, rec, seed)
      case w => sys.error(s"unknown workload $w")
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a)
    if (a.workload == "train") train(a, spark)
    else {
      val rec = new Recorder(spark)
      val out = try runWorkload(a, spark, rec, workload(a.workload, spark, rec, a.seed))
        finally Trace.stop(spark)
      Files.writeString(a.out, Json.write(out))
    }
    spark.stop()
    // Derby and Spark leave non-daemon threads behind on some paths
    System.exit(0)
  }

  /** Build-time class-loading pass: a short run of each benchmark
    * workload (one set-up, the warm-up, a few steps, the oracles), so the
    * class-data archive the build dumps at exit covers what the measured
    * runs load. */
  private def train(a: Args, spark: SparkSession): Unit = {
    val rec = new Recorder(spark)
    Trained.foreach { name =>
      val wl = workload(name, spark, rec, a.seed)
      wl.prepare(a.work)
      wl.setup(a.work.resolve(s"train-$name"), 0)
      wl.warmup()
      rec.measuring = true
      (1 to 6).foreach(_ => wl.step())
      rec.measuring = false
      val bad = wl.verify()
      require(bad.isEmpty && rec.failed == 0, s"$name: ${(rec.errors ++ bad).mkString("; ")}")
      wl.spaceAmp()
    }
    Files.writeString(a.out, "{}")
  }

  private def runWorkload(a: Args, spark: SparkSession, rec: Recorder,
      wl: Workload): Map[String, Any] = {
    // traced runs trace set-up too: analytics' only commit is its set-up append
    if (a.trace) Trace.start(spark, rec)
    val tStart = System.nanoTime()
    wl.prepare(a.work)
    val tPrepared = System.nanoTime()
    val setups = (0 until wl.setupReps).map { rep =>
      val wh = a.work.resolve(s"wh$rep")
      if (rep > 0) Fs.rmTree(a.work.resolve(s"wh${rep - 1}"))
      val t0 = System.nanoTime()
      wl.setup(wh, rep)
      (System.nanoTime() - t0) / 1e9
    }
    wl.warmup()

    rec.measuring = true
    val cpu0 = Jvm.cpuMs()
    val t0 = System.nanoTime()
    val target = wl.windowOps(a.seconds)
    def elapsedS = (System.nanoTime() - t0) / 1e9
    // a fixed-work window that takes 4x its nominal time ends short,
    // and the shortfall is a failure
    while (target.fold(elapsedS < a.seconds)(n => rec.count("op") < n && elapsedS < 4 * a.seconds))
      wl.step()
    val windowS = elapsedS
    val windowCpuMs = Jvm.cpuMs() - cpu0
    rec.measuring = false

    val mismatches = wl.verify() ++ target.filter(rec.count("op") < _)
      .map(n => s"window made ${rec.count("op")} of its $n operations")
    val layers = if (a.trace) wl.layerProbes() else Map.empty[String, Double]
    val spaceAmp = wl.spaceAmp()
    val heapMb = Jvm.liveHeapMb()
    val tEnd = System.nanoTime()

    val s = rec.samples
    val primary = s.getOrElse("op", Nil)
    val (tailV, tailPct, tailN) = Stats.tail(primary)
    val e2e: Map[String, (Double, String)] = Map(
      "setup_s" -> (Stats.median(setups) -> "s"),
      "ops_per_s" -> ((primary.size / windowS) -> "1/s"),
      "op_p50_ms" -> (Stats.median(primary) -> "ms"),
      "op_tail_ms" -> (tailV -> "ms"),
      "follow_p50_ms" -> (Stats.median(s.getOrElse("follow", Nil)) -> "ms"),
      "read_p50_ms" -> (Stats.median(s.getOrElse("read", Nil)) -> "ms"),
      "space_amp" -> (spaceAmp -> "ratio"),
      "live_heap_mb" -> (heapMb -> "MB"))
    val attempted = rec.attempted + wl.oracleChecks + target.size
    val failed = rec.failed + mismatches.size
    val counts = s.map { case (k, v) => k -> v.size }
    val report = mutable.ArrayBuffer[String]()
    report += f"fmtbench ${a.workload} seed=${a.seed} window=${windowS}%.1fs " +
      s"samples=${counts.toSeq.sorted.map { case (k, n) => s"$k:$n" }.mkString(",")} " +
      f"error_rate=${failed.toDouble / attempted}%.4f (failed $failed of $attempted)"
    report += f"  phases: prepare ${(tPrepared - tStart) / 1e9}%.1fs, set-ups " +
      setups.map(x => f"$x%.1f").mkString("/") + f"s, window $windowS%.1fs, " +
      f"verify+probes ${(tEnd - t0) / 1e9 - windowS}%.1fs"
    report += f"  window process CPU ${windowCpuMs / 1000}%.1fs = ${windowCpuMs / (windowS * 1000)}%.2f cores busy"
    report += (if (tailN >= 21) f"  op_tail_ms is p${tailPct * 100}%.1f of $tailN samples (10 beyond it)"
      else s"  op_tail_ms is the median: $tailN samples (a tail needs 21)")
    (rec.errors ++ mismatches).take(20).foreach(e => report += s"  error: $e")
    e2e.toSeq.sortBy(_._1).foreach { case (k, (v, u)) => report += f"  $k%-14s $v%.4f $u" }

    val metrics: Map[String, Any] =
      if (!a.trace) e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
      else {
        val summary = Trace.summary(spark, rec, a, layers, e2e, setups, windowS)
        report ++= summary.report
        summary.perLayer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
      }
    Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics,
      "e2e" -> e2e.map { case (k, (v, _)) => k -> v },
      "tail" -> Map("percentile" -> tailPct, "samples" -> tailN, "value" -> tailV),
      "report" -> report.toSeq)
  }
}

/** A workload: seeded inputs, its own tables, one closed-loop step at a time. */
trait Workload {
  /** How many times set-up runs (each into a fresh warehouse); `setup_s` is their median. */
  def setupReps: Int = 3
  /** Untimed, once after the last set-up: JIT, codegen and caches, so the
    * window measures a warm process. History-dependent workloads warm
    * up on a table of their own. */
  def warmup(): Unit
  /** Untimed, once before set-up: inputs the oracle needs beside the program's. */
  def prepare(work: Path): Unit = ()
  def setup(warehouse: Path, rep: Int): Unit
  /** A workload whose samples depend on how far its history or its op
    * mix got runs a fixed amount of work instead of `--seconds`: this
    * many primary operations (class `op`), sized from `--seconds`. */
  def windowOps(seconds: Int): Option[Int] = None
  /** One step of the closed loop; records its timed operations in the [[Recorder]]. */
  def step(): Unit
  /** Oracle checks after the window: one message per mismatch. */
  def verify(): Seq[String]
  /** Number of oracle comparisons [[verify]] makes (they count as attempted). */
  def oracleChecks: Int
  /** Warehouse bytes on disk ÷ data-file bytes of the current snapshot(s). */
  def spaceAmp(): Double
  /** Per-layer probes taken from outside the program after the window. */
  def layerProbes(): Map[String, Double]
}

/** Timed operations of the closed loop: latency samples per class, ids, failures.
  *
  * Classes: `op` (the workload's primary operation), `follow` (its
  * follow-on operation) and `read` (its read of the table it writes or
  * a second read shape). Every operation runs under its own Spark job
  * group so listeners can attribute jobs, stages and micro-batches. */
final class Recorder(val spark: SparkSession) {
  @volatile var measuring = false
  private val lat = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private var seq = 0
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer[String]()
  /** op id → (class, name, startMs, endMs); kept for the trace. */
  val ops = mutable.ArrayBuffer[(String, String, String, Double, Double)]()
  private var current: Option[String] = None
  // per-commit counts, filled by traced runs only ([[Trace.afterCommit]])
  val commitFiles, commitDataBytes, commitMetaBytes, dmlFiles, dmlBytes =
    mutable.ArrayBuffer[Double]()
  /** maintenance totals of the window (procedure time and result counts) */
  val maint = mutable.Map[String, Double]().withDefaultValue(0.0)

  def samples: Map[String, Seq[Double]] = lat.map { case (k, v) => k -> v.toSeq }.toMap
  /** Successful operations of class `cls` in the window so far. */
  def count(cls: String): Int = lat.get(cls).map(_.size).getOrElse(0)
  def currentOp: Option[String] = current

  /** Time `body` as one operation of class `cls`. Outside the window the
    * body still runs under a job group but no sample is kept. A failure
    * is counted, never rethrown: the loop goes on. */
  def op[T](cls: String, name: String)(body: => T): Option[T] = {
    seq += 1
    val id = f"op$seq%05d"
    val sc = spark.sparkContext
    sc.setJobGroup(id, name, interruptOnCancel = false)
    current = Some(id)
    val startMs = Clock.nowMs
    val t0 = System.nanoTime()
    val r = try Some(Trace.inOp(id, name, cls)(body)) catch {
      case e: Throwable if measuring =>
        failed += 1
        errors += s"$name: ${e.toString.take(300)}"
        None
    } finally {
      sc.clearJobGroup()
      current = None
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (measuring) {
      attempted += 1
      if (r.isDefined) lat.getOrElseUpdate(cls, mutable.ArrayBuffer()) += ms
      ops += ((id, cls, name, startMs, startMs + ms))
    }
    r
  }
}

object Clock {
  private val base = System.currentTimeMillis() - System.nanoTime() / 1e6
  /** Epoch ms with sub-ms resolution, on the clock Spark's listener events use. */
  def nowMs: Double = base + System.nanoTime() / 1e6
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest order statistic with at least 10 samples beyond it:
    * (value, percentile it sits at, sample count). Below 21 samples that
    * statistic is not above the median, and the median stands in
    * (percentile 0.5). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.size
    if (n < 21) (median(xs), 0.5, n)
    else {
      val s = xs.sorted
      (s(n - 11), (n - 10).toDouble / n, n)
    }
  }
}

object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  /** Heap in use after a full collection: the heap pools' usage as the
    * collector left it. */
  def liveHeapMb(): Double = {
    // Spark's ContextCleaner drops broadcast and shuffle blocks only
    // after a collection has found their handles unreachable: collect,
    // let it run, collect again
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  /** CPU time of the whole process (all threads), ms. */
  def cpuMs(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  def gc(): (Double, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum.toDouble, beans.map(_.getCollectionCount).sum)
  }
}

object Fs {
  import scala.jdk.CollectionConverters._

  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** Total bytes of regular files under `p`. */
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def list(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.list(p)
      try s.iterator().asScala.toList finally s.close()
    }
}

/** Minimal JSON writer for the result file (maps, sequences, numbers, strings). */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(write).mkString("[", ",", "]")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else BigDecimal(d).bigDecimal.toPlainString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
