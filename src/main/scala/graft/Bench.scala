package graft

import scala.jdk.CollectionConverters._

/** Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":"total","value":…,"queries":{…}}.
  *
  * Each query is fully materialized through the noop sink (a bare
  * count() would let Catalyst prune the projections away and
  * under-report the work).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Split-sizing note (OPTIMIZATION_r21.md, "measured and rejected"):
    // lowering spark.sql.files.openCostInBytes / AQE minPartitionSize
    // to widen tiny-input scans was tried and REVERTED — every fixture
    // parquet is a single row group, so extra splits produce footer-
    // only no-op tasks (q_tpch_q1 scan stage wall 0.87 s → 1.75 s at
    // 32 splits) and post-shuffle stages inflate task-constant CPU.
    // Defaults stay; at 100 TB row groups abound and the stock
    // bytes-per-core formula already adapts.
    val spark = Dsl.devSession(Some("graft-bench"), defaultCpus = 32,
      "spark.sql.adaptive.enabled" -> "true")
    // warm-up actions so JVM/codegen/streaming-engine startup isn't
    // billed to the first queries in the map
    spark.read.parquet(s"$sfDir/nation.parquet").count(): Unit
    try {
      import spark.implicits._
      implicit val ctx: org.apache.spark.sql.classic.SQLContext =
        spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
      val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      val q = ms.toDS().groupBy().count().writeStream
        .format("memory").queryName("graft_warmup").outputMode("complete").start()
      ms.addData(1L); q.processAllAvailable(); q.stop()
    } catch { case _: Throwable => }

    // Fixed-cost streaming CALIBRATION: a trivial 3-micro-batch
    // MemoryStream replay whose wall time is pure micro-batch
    // scheduling latency — the one cost every q_str_* row pays per
    // batch and the documented weak axis of this bench (r15→r16: a
    // +26.7 s drift confined to the streaming block took a side-run
    // study to attribute to host scheduling). Measured with the
    // in-suite protocol (untimed warm-up + min of 2) BEFORE and AFTER
    // the suite; q_str rows normalized by the mean land in the
    // artifact, so host-noise vs code-regression is decidable from
    // BENCH_rN.json alone: calib moves with the host, code moves one id.
    def streamCalib(): Double = {
      import spark.implicits._
      implicit val ctx: org.apache.spark.sql.classic.SQLContext =
        spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
      def once(): Double = {
        val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
        val q = ms.toDS().writeStream.format("noop").start()
        val t0 = System.nanoTime()
        try (1 to 3).foreach { i =>
          ms.addData(i.toLong); q.processAllAvailable()
        } finally q.stop()
        (System.nanoTime() - t0) / 1e9
      }
      try { once(); Seq(once(), once()).min }
      catch { case _: Throwable => -1.0 }
    }
    val calibPre = streamCalib()

    // optional args = subset of query names (dev iteration); no args = all
    val wanted = args.toSet
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || wanted(n) }
      .map { case (name, fn) =>
      // one untimed warm-up + two timed runs, report the min: a
      // single-shot suite bills whichever query happens to absorb a GC
      // pause / JIT warm-up for the whole JVM's accumulated state
      // (round-3: 10x inflation; round-7: first-run warm-up still
      // generated false "regressions" even under min-of-2)
      var failed = false
      // GC time attribution: a query billed 2x its standalone time with
      // a matching gc_ms spike is suite heap pressure, not a regression
      // (round-11: q_str_docdedup 3.36 s in-suite / 1.69 s standalone
      // was unattributable from the artifact alone)
      def gcNow(): Long = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
      val gc0 = gcNow()
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          failed = true
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }.drop(1)
      val gcMs = gcNow() - gc0
      // what THIS query left pinned in the block manager (cache() /
      // localCheckpoint() blocks), measured before the reset so
      // retention is attributable per query from the artifact
      val storageMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1 << 20)
      // suite-state reset (round-12: live heap grew 285 MB -> ~12 GB
      // across the alphabetical suite and billed the tail 4-10x its
      // standalone cost — retained storage + loaded state-store
      // providers squeezed unified execution memory; gc_ms stayed ~0,
      // so this was retention, not GC). Queries must measure queries,
      // not suite history.
      graft.streaming.Hygiene.reset(spark)
      // let the ContextCleaner drain its reference queue (it only runs
      // off GC, which an under-pressure-free 12 GB heap never triggers)
      System.gc()
      val rt = Runtime.getRuntime
      val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1 << 20)
      (name, times.min, heapMb, failed, gcMs, storageMb)
    }
    def r3(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // a failed query's wall time is an exception path, not a measurement
    // — null it in the map and keep it out of the total so a broken
    // query can never masquerade as a fast one (round-10: 21 events
    // queries "ran" in 0.05 s) nor pad the headline
    val qs = results.map { case (k, v, _, f, _, _) =>
        "\"" + k + "\":" + (if (f) "null" else r3(v)) }
      .mkString("{", ",", "}")
    val heaps = results.map { case (k, _, h, _, _, _) => "\"" + k + "\":" + h }
      .mkString("{", ",", "}")
    val gcs = results.map { case (k, _, _, _, g, _) => "\"" + k + "\":" + g }
      .mkString("{", ",", "}")
    val storages = results.map { case (k, _, _, _, _, s) => "\"" + k + "\":" + s }
      .mkString("{", ",", "}")
    val failedList = results.collect { case (k, _, _, true, _, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val ok = results.filterNot(_._4)
    val total = ok.map(_._2).sum
    val nFailed = results.size - ok.size
    val top = ok.sortBy(-_._2).take(10)
      .map { case (k, v, _, _, _, _) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    // self-validation: re-time the 5 slowest AND 5 fastest queries
    // AFTER the whole suite has run — if suite state were still
    // inflating the tail (round-12: 4-10x), or a reset bug were
    // DEFLATING in-suite numbers, these end-of-suite reruns would
    // diverge from the in-suite numbers and the artifact itself
    // would show it. distinctBy: with a small dev subset (<10
    // queries) the slowest-5 and fastest-5 sets overlap and would
    // emit duplicate JSON keys (last-wins in most parsers).
    // r14/r15 showed one-sided drift (1.1-2.8x) on ALL ten rechecked
    // queries, fast five included — which ruled out streaming/suite
    // state and pointed at the measurement itself: the in-suite
    // number is a min of two warm runs, while the old recheck was ONE
    // cold single-shot on the suite-worn root session. The recheck
    // now mirrors the in-suite protocol exactly (one untimed warm-up
    // + min of two timed runs) in a FRESH newSession (clean SQLConf /
    // temp views, shared context) after a GC quiesce, so a ratio > ~1
    // can only mean real suite-state inflation, not protocol skew.
    val inSuite = ok.map { case (k, v, _, _, _, _) => k -> v }.toMap
    def recheckProtocol(names: Seq[String]): Seq[(String, Option[Double])] =
      names.map { k =>
        org.apache.spark.sql.SparkSession.clearActiveSession()
        val fresh = spark.newSession()
        System.gc()
        // a query that errors in the fresh session must report null,
        // never its exception-throw time as a plausible fast run — the
        // same failed-query rule the in-suite numbers follow
        var failed = false
        val ts = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          try SparkEntry.queries(k)(fresh, sfDir)
            .write.format("noop").mode("overwrite").save()
          catch { case e: Throwable =>
            failed = true
            System.err.println(s"[bench] recheck $k failed: ${e.getMessage}")
          }
          (System.nanoTime() - t0) / 1e9
        }.drop(1)
        graft.streaming.Hygiene.reset(spark)
        (k, if (failed) None else Some(ts.min))
      }
    val recheckPairs = recheckProtocol(
      (ok.sortBy(-_._2).take(5) ++ ok.sortBy(_._2).take(5))
        .distinctBy(_._1).map(_._1))
    // calibPost is measured HERE — after the suite + the fixed
    // slow/fast-10 rechecks, BEFORE the movers block — so the
    // calibration protocol does the same amount of pre-measurement
    // session churn every round regardless of whether BENCH_PREV.json
    // exists or how many movers overlap the recheck set
    val calibPost = streamCalib()
    val recheck = recheckPairs
      .map { case (k, t) => "\"" + k + "\":" + t.map(r3).getOrElse("null") }
      .mkString("{", ",", "}")
    val recheckRatio = recheckPairs
      .map { case (k, t) =>
        "\"" + k + "\":" + t.map(v => r3(v / inSuite(k))).getOrElse("null") }
      .mkString("{", ",", "}")
    // Round-over-round MOVERS recheck: the slowest-5/fastest-5 sets
    // can miss the queries that actually regressed vs the previous
    // round (r18: q_tpch_q2 ×1.49 and q_tpch_q20 ×1.67 sat outside
    // both the recheck set and the streaming per_calib rule, so the
    // artifact couldn't self-diagnose them). When a committed
    // BENCH_PREV.json (the previous round's full target/bench.json)
    // sits beside the repo at the SAME sf, re-time the 5 largest
    // per-query ratio movers with the identical fresh-session
    // protocol: recheck ≈ in-suite ≈ ratio×prev → real change;
    // recheck back near prev → in-suite number was suite/host noise.
    // prev < 0.15 s ids are skipped (sub-noise-floor ratios).
    def prevQueries(path: java.nio.file.Path): Map[String, Double] =
      try {
        if (!java.nio.file.Files.exists(path)) Map.empty
        else {
          val s = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
          val sfOk = """"sf":"([^"]+)"""".r.findFirstMatchIn(s).exists(_.group(1) == sfDir)
          val i = s.indexOf("\"queries\":{")
          if (!sfOk || i < 0) Map.empty
          else {
            val body = s.substring(i + 11, s.indexOf('}', i))
            """"([^"]+)":([0-9][0-9.eE+-]*)""".r.findAllMatchIn(body)
              .map(m => m.group(1) -> m.group(2).toDouble).toMap
          }
        }
      } catch { case _: Throwable => Map.empty }
    val prevPath = java.nio.file.Paths.get("BENCH_PREV.json")
    val prev = prevQueries(prevPath)
    // a silently-skipped movers recheck must be distinguishable from
    // no-previous-round: the fallback-to-empty hides parse drift
    if (java.nio.file.Files.exists(prevPath) && prev.isEmpty)
      System.err.println("[bench] BENCH_PREV.json present but yielded no " +
        s"queries for sf=$sfDir (sf mismatch or parse drift) — movers " +
        "self-diagnosis skipped")
    val ranked = ok.flatMap { case (k, v, _, _, _, _) =>
      prev.get(k).filter(_ >= 0.15).map(p => (k, v / p)) }
      .sortBy(-_._2)
    // every >1.4x mover gets re-timed (r19: x1.51 and x1.45 movers sat
    // just outside the fixed five slots — the same one-notch-smaller
    // blind spot r18 hit), capped at 10; always at least the top 5 so
    // quiet rounds keep their round-over-round context
    val movers = ranked.take(math.min(10, math.max(5, ranked.count(_._2 > 1.4))))
    val reusable = recheckPairs.toMap
    val moverPairs = movers.map { case (k, _) =>
      k -> reusable.getOrElse(k, recheckProtocol(Seq(k)).head._2) }
    val moversVsPrev = movers
      .map { case (k, r) => "\"" + k + "\":" + r3(r) }.mkString("{", ",", "}")
    val recheckMovers = moverPairs
      .map { case (k, t) => "\"" + k + "\":" + t.map(r3).getOrElse("null") }
      .mkString("{", ",", "}")
    val recheckMoversRatio = moverPairs
      .map { case (k, t) =>
        "\"" + k + "\":" + t.map(v => r3(v / inSuite(k))).getOrElse("null") }
      .mkString("{", ",", "}")
    val calibMean =
      if (calibPre > 0 && calibPost > 0) (calibPre + calibPost) / 2 else -1.0
    // q_str rows in units of the scheduling-latency control: stable
    // across hosts when the code is unchanged, moves on one id when
    // code regressed, moves EVERYWHERE (with the calib rows) when the
    // host was noisy
    val strNorm = ok.filter(_._1.startsWith("q_str_"))
      .map { case (k, v, _, _, _, _) =>
        "\"" + k + "\":" + (if (calibMean > 0) r3(v / calibMean) else "null") }
      .mkString("{", ",", "}")
    // the full-precision record (plus heap/GC profiles) for direct reads
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"n_failed":$nFailed,"failed":$failedList,"queries":${
        results.map { case (k, v, _, f, _, _) =>
          "\"" + k + "\":" + (if (f) "null" else v.toString) }.mkString("{", ",", "}")
      },"heap_mb":$heaps,"gc_ms":$gcs,"storage_mb":$storages,"recheck_after_suite":$recheck,"recheck_ratio":$recheckRatio,"movers_vs_prev":$moversVsPrev,"recheck_movers":$recheckMovers,"recheck_movers_ratio":$recheckMoversRatio,"stream_calib_pre_sec":${r3(calibPre)},"stream_calib_post_sec":${r3(calibPost)},"q_str_per_calib":$strNorm}"""
    val out = java.nio.file.Paths.get("target/bench.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, full.getBytes("UTF-8"))
    // The driver tail-captures ~3.5 KB of stdout. Rounds 12/13 both lost
    // the headline JSON to the ~3.5 KB WARN flood Spark emits DURING
    // spark.stop() (executor/state-store teardown), so the official
    // artifact parsed null while target/bench.json was fine. Order of
    // operations is the fix: silence logging, stop Spark, THEN print the
    // JSON as the process's last stdout lines — nothing after them but
    // sbt's one-line [success].
    spark.sparkContext.setLogLevel("OFF")
    org.apache.logging.log4j.LogManager.getRootLogger match {
      case l: org.apache.logging.log4j.core.Logger =>
        l.setLevel(org.apache.logging.log4j.Level.OFF)
      case _ =>
    }
    // stop() can itself throw (state-store/executor teardown). It is
    // SWALLOWED, not finally-wrapped: a propagating exception would
    // make sbt print a multi-KB [error] stack trace AFTER the JSON
    // and evict the headline from the driver's ~3.5 KB stdout tail —
    // the parsed:null failure this ordering exists to fix. Every
    // measurement is already on disk in target/bench.json by now.
    try spark.stop()
    catch { case e: Throwable =>
      System.err.println(s"[bench] ignoring teardown failure: ${e.getMessage}")
    }
    // big map first (its head may be chopped by the tail capture),
    // small headline line dead last so it always survives whole
    println(
      s"""{"metric":"all_queries","sf":"$sfDir","queries":$qs}""")
    println(
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","sf":"$sfDir","n_queries":${results.size},"n_failed":$nFailed,"failed":$failedList,"stream_calib_pre_sec":${r3(calibPre)},"stream_calib_post_sec":${r3(calibPost)},"movers_vs_prev":$moversVsPrev,"recheck_movers_ratio":$recheckMoversRatio,"queries":$top,"queries_note":"top 10 by time; full map in target/bench.json and the all_queries line"}""")
  }
}
