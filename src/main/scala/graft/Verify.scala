package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val wanted = args.drop(2).toSet  // optional subset for dev iteration
    val spark = Dsl.devSession(appName = None, defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    // Parallel dump: the suite is 180+ queries and the driver's wall
    // budget is finite — run POOL at a time, each under its OWN
    // spark.newSession() (independent SQLConf + temp-view registry +
    // catalog cache, shared SparkContext), because several operators
    // legitimately toggle session confs (SPJ gating, dynamic
    // partitionOverwriteMode, streaming shuffle sizing) that must not
    // cross-talk. Results are byte-identical to the serial run: every
    // query is internally ordered and written to its own directory.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      sys.env.getOrElse("GRAFT_VERIFY_POOL", "6").toInt)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val todo = SparkEntry.queries
      .filter { case (name, _) => wanted.isEmpty || wanted(name) }
    // a query with no dump is otherwise ABSENT from the driver's
    // correctness artifact (round-10: 21 silent misses) — record every
    // failure machine-readably in failures.json alongside the dumps
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val futures = todo.toSeq.map { case (name, fn) =>
      scala.concurrent.Future {
        val t0 = System.nanoTime
        try {
          fn(spark.newSession(), sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(f"[verify] $name ok ${(System.nanoTime - t0) / 1e9}%.1fs")
        } catch { case e: Throwable =>
          failures.add(name -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), failJson)
    if (!failures.isEmpty)
      System.err.println(s"[verify] ${failures.size} FAILED — see $outDir/failures.json")
    spark.stop()
  }
}
