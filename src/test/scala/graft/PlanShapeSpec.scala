package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression suite: pins the physical-plan properties the
  * 100 TB design depends on — pushed filters, pruned read schemas,
  * broadcast choices, no nested-loop/cartesian joins on corpus-sized
  * inputs, bounded shuffle counts, single-scan guarantees. Correctness
  * oracles can't see these (a plan that re-scans or cross-joins still
  * returns the right rows), so each property gets an explicit
  * assertion here; a refactor that silently degrades a plan fails the
  * suite, not just the bench.
  */
class PlanShapeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf)

  /** Physical plan string (initial plan under AQE — the shapes pinned
    * here are decided at planning time, not by runtime re-opt). */
  private def plan(name: String): String =
    q(name).queryExecution.executedPlan.toString

  /** Physical plan with the AQE wrapper peeled off — collect() does
    * not descend into AdaptiveSparkPlanExec's captive plan. */
  private def physical(df: DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }

  private def scansOf(df: DataFrame, table: String): Seq[FileSourceScanExec] =
    physical(df).collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(table)) => s
    }

  test("q_scan_proj: the parquet scan reads ONLY the projected columns") {
    val scans = physical(q("q_scan_proj")).collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "expected a parquet scan")
    scans.foreach { s =>
      assert(s.requiredSchema.fields.length <= 3,
        s"scan reads ${s.requiredSchema.fieldNames.mkString(",")} — column pruning lost")
    }
  }

  test("q_filter_cmp: the comparison predicate is pushed into the scan") {
    val scans = physical(q("q_filter_cmp")).collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.exists(_.metadata.get("PushedFilters").exists(_ != "[]")),
      scans.map(_.metadata.getOrElse("PushedFilters", "?")).mkString("; "))
  }

  test("q_join_broadcast: the small dimension broadcasts, no sort-merge join") {
    val p = plan("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("q_join_theta / q_join_interval: bucketed equi-rewrites, no cartesian or nested-loop join") {
    for (name <- Seq("q_join_theta", "q_join_interval")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n${p.take(1500)}")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name:\n${p.take(1500)}")
    }
  }

  test("q_topk: global top-k plans as TakeOrderedAndProject, not a full sort") {
    assert(plan("q_topk").contains("TakeOrderedAndProject"))
  }

  test("q_llm_contamination: the corpus is scanned exactly once") {
    val scans = scansOf(q("q_llm_contamination"), "documents")
    assert(scans.length == 1,
      s"documents scanned ${scans.length} times — gram-subtree reuse lost")
  }

  test("q_llm_bm25: the tiny df/avgdl aggregates broadcast back, corpus never cartesian-joined") {
    val p = plan("q_llm_bm25")
    assert(p.sliding("BroadcastExchange".length).count(_ == "BroadcastExchange") >= 2,
      p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q_llm_winnow: window + distinct share ONE corpus hash-shuffle") {
    val p = plan("q_llm_winnow")
    val hashShuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashShuffles == 1,
      s"expected 1 hash shuffle (doc_id window; doc_id-prefixed distinct reuses it), got $hashShuffles:\n${p.take(2500)}")
  }

  test("q_llm_entropy: both agg shuffles carry vocabulary rows (map-side combine present)") {
    val p = plan("q_llm_entropy")
    val hashShuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashShuffles <= 2, s"expected <= 2 hash shuffles, got $hashShuffles")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "map-side partial aggregation lost")
  }

  test("q_llm_shuffle: permutation head is TakeOrderedAndProject; no corpus-wide single-partition window") {
    val p = plan("q_llm_shuffle")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    val shuffles = p.linesIterator.count(_.contains("Exchange"))
    assert(shuffles <= 1, s"expected the window to run on the bounded head only, got $shuffles exchanges:\n${p.take(2000)}")
  }

  test("q_llm_bm25/tfidf: the corpus-sized tf agg is the only non-broadcast shuffle producer") {
    for (name <- Seq("q_llm_bm25", "q_llm_tfidf")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n${p.take(1500)}")
    }
  }

  test("q_llm_exactdedup: one corpus shuffle on the content hash") {
    val p = plan("q_llm_exactdedup")
    val hashShuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashShuffles <= 2, s"got $hashShuffles hash shuffles:\n${p.take(2000)}")
  }

  test("q_evt_funnel: the events table is scanned exactly once, type filter pushed") {
    val df = q("q_evt_funnel")
    val scans = scansOf(df, "events")
    assert(scans.length == 1,
      s"events scanned ${scans.length} times — single-scan funnel lost")
    assert(scans.head.metadata.get("PushedFilters").exists(_.contains("In(event_type")),
      scans.head.metadata.getOrElse("PushedFilters", "?"))
  }

  test("q_evt_funnel: both running windows reuse ONE user-keyed shuffle") {
    val p = plan("q_evt_funnel")
    val hashShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // window shuffle on user_id; the per-user rollup reuses it (group
    // key = partition key), leaving only the final single-row agg
    assert(hashShuffles <= 1,
      s"expected the stacked windows + rollup to share one user shuffle, got $hashShuffles:\n${p.take(2500)}")
  }

  test("q_tpch_q3/q5/q10: dimensions broadcast, no sort-merge dim joins, bounded heads take-ordered") {
    for (name <- Seq("q_tpch_q3", "q_tpch_q5", "q_tpch_q10")) {
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"), s"$name dims must broadcast:\n${p.take(1500)}")
      assert(!p.contains("CartesianProduct"), s"$name:\n${p.take(1500)}")
    }
    for (name <- Seq("q_tpch_q3", "q_tpch_q10"))
      assert(plan(name).contains("TakeOrderedAndProject"),
        s"$name top-k head must not global-sort")
  }

  test("q_evt_retention: one user-keyed corpus shuffle (collect_set subsumes distinct+min+join)") {
    val p = plan("q_evt_retention")
    assert(!p.contains("Join"), s"join-back crept in:\n${p.take(2000)}")
    val hashShuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // user-keyed set agg + the tiny cohort-cell rollup
    assert(hashShuffles <= 2, s"got $hashShuffles hash shuffles:\n${p.take(2500)}")
  }

  test("q_llm_simsearch/hamming/knnlabel: two-phase top-k — query-side broadcast, no single-query-wide sort") {
    for (name <- Seq("q_llm_simsearch", "q_llm_hamming", "q_llm_knnlabel")) {
      val p = plan(name)
      assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastNestedLoopJoin"), s"$name query set must broadcast:\n${p.take(1500)}")
      // the slice window keys on (_pid, q_id): its exchange must
      // mention the synthetic slice column so no corpus-sized
      // per-query partition exists before the bounded global ranking
      assert(p.contains("_pid"), s"$name slice-phase partial top-k lost:\n${p.take(2500)}")
    }
  }

  test("q_tpch_q12/q19/q22: date filter pushed, part broadcast, anti-join not nested-loop") {
    val q12scans = scansOf(q("q_tpch_q12"), "lineitem")
    assert(q12scans.nonEmpty &&
      q12scans.head.metadata.get("PushedFilters").exists(_.contains("l_shipdate")),
      q12scans.headOption.flatMap(_.metadata.get("PushedFilters")).getOrElse("no scan"))
    val p19 = plan("q_tpch_q19")
    assert(p19.contains("BroadcastHashJoin"), s"part must broadcast:\n${p19.take(1500)}")
    assert(!p19.contains("CartesianProduct") && !p19.contains("SortMergeJoin"),
      s"q19 single-dim join must not shuffle:\n${p19.take(1500)}")
    val p22 = plan("q_tpch_q22")
    assert(p22.contains("LeftAnti"), s"dormancy test must be an anti-join:\n${p22.take(2000)}")
    assert(!p22.contains("BroadcastNestedLoopJoin") || p22.contains("LeftAnti"),
      s"q22:\n${p22.take(2000)}")
    // the recent-buyer key set is distinct-reduced before the anti join
    val scans22 = scansOf(q("q_tpch_q22"), "orders")
    assert(scans22.head.metadata.get("PushedFilters").exists(_.contains("o_orderdate")),
      scans22.head.metadata.getOrElse("PushedFilters", "?"))
  }

  test("q_tpch_q1: join-free single scan, pushed date filter, map-side partial aggregation") {
    val p = plan("q_tpch_q1")
    assert(!p.contains("Join"), s"Q1 is one scan + one agg, no joins:\n${p.take(1500)}")
    val scans = scansOf(q("q_tpch_q1"), "lineitem")
    assert(scans.length == 1 &&
      scans.head.metadata.get("PushedFilters").exists(_.contains("l_shipdate")),
      scans.headOption.flatMap(_.metadata.get("PushedFilters")).getOrElse("no scan"))
    // partial agg before the exchange — at 100 TB the shuffle is 6
    // rows per task, not the fact table
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"partial aggregation lost:\n${p.take(2000)}")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 1,
      s"Q1 must shuffle once:\n${p.take(2000)}")
  }

  test("q_tpch_q9: part/supplier/nation broadcast, one fact shuffle join, name filter pushed") {
    val p = plan("q_tpch_q9")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"q9:\n${p.take(2000)}")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 3,
      s"part/supplier/nation must all broadcast:\n${p.take(2500)}")
    assert(p.linesIterator.count(_.contains("SortMergeJoin")) <= 1,
      s"only lineitem⋈orders may shuffle:\n${p.take(2500)}")
    val pScans = scansOf(q("q_tpch_q9"), "part")
    assert(pScans.head.metadata.get("PushedFilters").exists(_.contains("p_name")),
      pScans.head.metadata.getOrElse("PushedFilters", "?"))
  }

  test("q_tpch_q21: exists/not-exists as per-order aggregates + semi join, never nested-loop") {
    // opt round 22: the "another supplier" EXISTS is a per-order
    // min≠max aggregate semi-joined back (one narrow row per orderkey
    // through the fact shuffle, not every pair row), and the "no other
    // late supplier" NOT EXISTS is a count window over late itself —
    // the anti self-join is gone by construction
    val p = plan("q_tpch_q21")
    assert(p.contains("LeftSemi"), s"multi-supplier EXISTS must be a semi join:\n${p.take(2000)}")
    assert(p.contains("Window"), s"no-other-late must be the late-count window:\n${p.take(2000)}")
    assert(!p.contains("LeftAnti"),
      s"the anti self-join must be replaced by the window count:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"probes must ride orderkey equi-joins, not a loop:\n${p.take(2000)}")
    assert(p.contains("TakeOrderedAndProject"), s"bounded head must not global-sort:\n${p.take(2000)}")
  }

  test("q_tpch_q8/q15/q16/q20: broadcast dims/qualifier sets, semi/anti keyed, no loops") {
    for (name <- Seq("q_tpch_q8", "q_tpch_q15", "q_tpch_q16", "q_tpch_q20")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$name:\n${p.take(2000)}")
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
        s"$name small sides must broadcast:\n${p.take(2000)}")
    }
    // q8's customer-region membership is a semi join, q16's complaint
    // exclusion an anti join, q20's qualifier set a semi join
    assert(plan("q_tpch_q8").contains("LeftSemi"), "q8 region membership must be semi")
    assert(plan("q_tpch_q16").contains("LeftAnti"), "q16 exclusion must be anti")
    assert(plan("q_tpch_q20").contains("LeftSemi"), "q20 qualifier must be semi")
    // q16's distinct (part,supp) reduction happens before the dim join
    // explodes it — the only fact-sized shuffles are the distinct + the
    // distinct-count agg
    val p16 = plan("q_tpch_q16")
    assert(p16.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 3,
      s"q16 shuffle count grew:\n${p16.take(2500)}")
  }

  test("q_tpch_q4/q17, q_join_salted: semi-join EXISTS, no cartesian, salted exchange") {
    val p4 = plan("q_tpch_q4")
    assert(p4.contains("LeftSemi"), s"EXISTS must plan as semi join:\n${p4.take(1500)}")
    val p17 = plan("q_tpch_q17")
    assert(!p17.contains("CartesianProduct") && !p17.contains("BroadcastNestedLoop"),
      s"per-part mean must re-join by key:\n${p17.take(1500)}")
    val pS = plan("q_join_salted")
    assert(!pS.contains("BroadcastHashJoin"),
      s"salted join must stay a shuffle join (broadcast defeats the pattern under test):\n${pS.take(1500)}")
    assert(pS.contains("salt"), s"salt column missing from the join keys:\n${pS.take(1500)}")
  }

  test("q_evt_stickiness: single scan, user-keyed shuffles, no self-join") {
    val df = q("q_evt_stickiness")
    val scans = scansOf(df, "events")
    assert(scans.length == 1, s"events scanned ${scans.length} times")
    val p = plan("q_evt_stickiness")
    assert(!p.contains("Join"), s"dau⋈wau self-join crept back:\n${p.take(2000)}")
  }

  test("q_llm_condentropy / q_evt_sessionstats: single corpus scan each") {
    assert(scansOf(q("q_llm_condentropy"), "documents").length == 1,
      "w1 marginal must be a window over the reduced frame, not a re-scan")
    assert(scansOf(q("q_evt_sessionstats"), "events").length == 1,
      "session reduce + percentile rollup must share one scan")
  }

  test("q_tpch_q2/q11: pair agg is the only fact shuffle; dims and aggregates broadcast") {
    val p2 = plan("q_tpch_q2")
    assert(!p2.contains("CartesianProduct") && !p2.contains("BroadcastNestedLoop"),
      s"q2:\n${p2.take(2000)}")
    // part, the region-supplier dim, AND the per-part MIN all broadcast
    assert(p2.linesIterator.count(_.contains("BroadcastHashJoin")) >= 3,
      s"q2 small sides must broadcast:\n${p2.take(2500)}")
    val p11 = plan("q_tpch_q11")
    // the per-part aggregate is checkpointed (its lineage — broadcast
    // dim join + one fact shuffle — ran once at materialization); the
    // visible plan must be the scalar-subquery filter over it, with
    // no join node at all
    assert(!p11.contains("CartesianProduct") && !p11.contains("BroadcastNestedLoop"),
      s"q11 must not cross-join the 1-row total:\n${p11.take(2000)}")
    assert(p11.contains("Subquery"),
      s"q11 total must be a scalar subquery:\n${p11.take(2000)}")
  }

  test("q_evt_lifecycle: one events scan, user-keyed lag before the day rollup") {
    val df = q("q_evt_lifecycle")
    assert(scansOf(df, "events").length == 1, "lifecycle must be a single scan")
    val p = plan("q_evt_lifecycle")
    assert(!p.contains("Join"), s"lifecycle needs no self-join:\n${p.take(2000)}")
  }

  test("q_llm_substrdedup / q_llm_datacard: keyed joins only, no loops; datacard single scan per agg") {
    val pS = plan("q_llm_substrdedup")
    assert(!pS.contains("CartesianProduct") && !pS.contains("BroadcastNestedLoop"),
      s"span join must be a keyed equi-join:\n${pS.take(2000)}")
    val pD = plan("q_llm_datacard")
    assert(!pD.contains("CartesianProduct") && !pD.contains("BroadcastNestedLoop"),
      s"datacard:\n${pD.take(2000)}")
    assert(pD.contains("BroadcastHashJoin"),
      s"the 20-row dup side must broadcast:\n${pD.take(2000)}")
  }

  test("q_win_frame_interval: partitioned on the full customer key, one window shuffle") {
    val p = plan("q_win_frame_interval")
    assert(p.contains("Window"), s"interval frame must plan as a window:\n${p.take(1500)}")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"one o_custkey shuffle only:\n${p.take(2000)}")
    assert(p.contains("o_custkey"), s"partition key lost:\n${p.take(1500)}")
  }

  test("q_join_bloom: runtime bloom filter injected on the probe side") {
    // replicate the Decl's confs but skip its localCheckpoint (which
    // truncates lineage and hides the injected filter from the plan)
    Dsl.withConf(spark, ops.Joins.bloomConfs: _*) {
      val df = ops.Joins.bloomJoin(spark, sf)
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"),
        s"InjectRuntimeFilter did not plant a bloom probe filter:\n${opt.take(2500)}")
      assert(opt.contains("bloom_filter_agg"),
        s"no bloom_filter_agg build subquery:\n${opt.take(2500)}")
      // and the result must still be the plain-join answer
      val row = df.collect().head
      assert(row.getString(0) == "Brand#23" && row.getLong(1) > 0)
    }
  }

  test("q_llm_substrdedup: the corpus-wide span shuffle is keyed on xxhash64, not raw strings") {
    val p = plan("q_llm_substrdedup")
    // the candidate aggregation (the only corpus-sized exchange) must
    // partition on the folded 8-byte hash; shuffling 64-char span
    // strings is the shape the r12 verdict flagged
    assert(p.contains("xxhash64"), s"span hash fold missing:\n${p.take(2000)}")
    assert(p.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning(h#")),
      s"corpus shuffle not keyed on the hash:\n${p.take(2500)}")
  }

  test("sweep: no TPC-H plan contains a cartesian or nested-loop join") {
    // cross-cutting pin over ALL declared q_tpch_* shapes: a refactor
    // that degrades any join to CartesianProduct / BroadcastNestedLoop
    // (the two shapes that melt at fact-table scale) fails here even
    // if its oracle stays green
    val tpch = SparkEntry.queries.keys.filter(_.startsWith("q_tpch_")).toSeq.sorted
    assert(tpch.size >= 22, s"expected the 22 classic shapes, got ${tpch.size}")
    val offenders = tpch.flatMap { name =>
      val p = plan(name)
      val bad = Seq("CartesianProduct", "BroadcastNestedLoopJoin").filter(p.contains)
      if (bad.isEmpty) None else Some(s"$name: ${bad.mkString(",")}")
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("LSH self-joins keep AQE exchange reuse with the join-side (ySide) bound") {
    // the ySide pre-filter adds a Filter on the y branch; the exchange
    // BELOW it must still dedupe at runtime (r14 note: AQE stage reuse
    // is what actually shares the signature/bucket shuffles — judge the
    // POST-execution adaptive plan, never the initial one)
    import spark.implicits._
    val docs = (0 until 400).map { i =>
      (i.toLong, (0 until 20).map(j => s"w${i % 37}t${(i + j) % 53}").mkString(" "))
    }.toDF("doc_id", "text")
    for ((tag, pairs) <- Seq(
        "minhash" -> graft.ops.LlmOps.minhashPairsDf(docs),
        "simhash" -> graft.ops.LlmOps2.simhashPairsDf(docs))) {
      // collect() (not write) so the FINAL adaptive plan lands on THIS
      // queryExecution — a write action plans its own execution and
      // leaves this one un-executed (isFinalPlan=false, no stages)
      pairs.collect()
      val p = pairs.queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange"),
        s"$tag: adaptive plan lost exchange reuse across the self-join:\n${p.take(2000)}")
    }
  }

  test("sweep: the planted-invariant dedup/agg queries stay equi-joined, no loops") {
    // the r14 invariant conversions must not smuggle in a loop join:
    // every pairing/backjoin is bucket- or key-equi. (The ANN queries
    // are excluded on purpose — their 5-row broadcast crossJoin IS the
    // intended plan for a tiny query frame.)
    for (name <- Seq("q_llm_minhash", "q_llm_simhash", "q_llm_fingerprint",
        "q_llm_semdedup", "q_agg_approxpct", "q_agg_hll_merge",
        "q_llm_dupcluster", "q_llm_dupgroups")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name:\n${p.take(1500)}")
    }
  }
}
