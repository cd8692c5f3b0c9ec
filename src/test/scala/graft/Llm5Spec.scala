package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q_llm_pq invariants the DuckDB oracle can't express (engine-seeded
  * k-means codebooks): code well-formedness, determinism, distortion
  * vs the trivial K=1 baseline, and ADC search recall vs exact.
  */
class Llm5Spec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val model = ops.SimilarityOps.pqModel(spark, sf)
  private lazy val coded = model._2.collect()
    .map(r => (r.getLong(0), r.getSeq[Int](1).toArray, r.getDouble(2)))
    .sortBy(_._1)

  test("q_llm_pq codes are well-formed: 8 codes per vector, each in [0,256)") {
    assert(coded.nonEmpty)
    coded.foreach { case (id, codes, err) =>
      assert(codes.length == 8, s"vec $id has ${codes.length} codes")
      assert(codes.forall(c => c >= 0 && c < 256), s"vec $id codes out of range: ${codes.toSeq}")
      assert(err >= 0.0 && !err.isNaN, s"vec $id err $err")
    }
  }

  test("q_llm_pq is deterministic run-to-run") {
    val again = ops.SimilarityOps.pqCode(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toArray.toSeq, r.getDouble(2)))
      .sortBy(_._1)
    assert(coded.map(t => (t._1, t._2.toSeq, t._3)).toSeq == again.toSeq)
  }

  test("q_llm_pq distortion beats the K=1 (subspace-mean) baseline") {
    val base = ops.SimilarityOps.pqCode(spark, sf, k = 1)
      .agg(avg(col("l2_err") * col("l2_err"))).collect()(0).getDouble(0)
    val pq = coded.map(t => t._3 * t._3).sum / coded.length
    assert(pq < base,
      s"16-entry codebooks must reconstruct better than the mean: $pq vs $base")
    assert(pq < base * 0.8, s"expected a clear distortion win, got $pq vs $base")
  }

  test("q_llm_simsearch_ivfpq: recall vs exact brute-force top-5 >= 0.8, deterministic") {
    // the declared query now oracles the recall invariant as booleans;
    // this spec keeps the raw-ranking checks against the direct API
    val inv = SparkEntry.queries("q_llm_simsearch_ivfpq")(spark, sf).collect()
    assert(inv.nonEmpty && inv.forall(r => r.getBoolean(1) && r.getBoolean(2)),
      "ivfpq recall invariant rows not all true")
    val exact = SparkEntry.queries("q_llm_simsearch")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val approx = graft.ops.SimilarityOps.ivfPqTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert(approx.keySet == exact.keySet)
    val recalls = exact.map { case (q, ids) =>
      approx(q).intersect(ids).size.toDouble / ids.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"IVF-PQ recall too low: $mean")
    val again = graft.ops.SimilarityOps.ivfPqTopK(spark, sf).collect().toSeq
    val first = graft.ops.SimilarityOps.ivfPqTopK(spark, sf).collect().toSeq
    assert(again == first, "IVF-PQ result must be deterministic")
  }

  test("CosineSim: codegen, interpreted, and driver math agree; HOF spelling preserved") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val rnd = new scala.util.Random(11)
    (1 to 50).foreach { _ =>
      val n = 1 + rnd.nextInt(16)
      val a = Array.fill(n)(rnd.nextDouble() * 2 - 1)
      val b = Array.fill(n)(rnd.nextDouble() * 2 - 1)
      // driver math in the same accumulation order
      var dot = 0.0; var na = 0.0; var nb = 0.0
      (0 until n).foreach { i =>
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      }
      val expect = dot / (math.sqrt(na) * math.sqrt(nb))
      val interp = graft.functions.CosineSim(
        Literal.create(a, ArrayType(DoubleType)),
        Literal.create(b, ArrayType(DoubleType))).eval(null)
      assert(interp == expect, s"interpreted mismatch: $interp vs $expect")
    }
    // end-to-end through the codegen path (a real projection), against
    // the original HOF spelling — must be BIT-identical, it is what
    // keeps the DuckDB oracles green
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(-1.0, 0.5, 2.0)),
      (Seq(0.1, 0.0, -0.3), Seq(0.4, 0.4, 0.4))).toDF("x", "y")
    val hof = sqrt(aggregate(transform(col("x"), v => v * v), lit(0.0), (s, v) => s + v)) *
      sqrt(aggregate(transform(col("y"), v => v * v), lit(0.0), (s, v) => s + v))
    val dotHof = aggregate(zip_with(col("x"), col("y"), (p, q) => p * q),
      lit(0.0), (s, v) => s + v)
    val both = df.select(
      graft.functions.VecMath.cosineSim(col("x"), col("y")).as("native"),
      (dotHof / hof).as("hof")).collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"codegen vs HOF: ${r.getDouble(0)} vs ${r.getDouble(1)}"))
  }

  test("PqEncode: interpreted eval matches a driver brute force") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val rnd = new scala.util.Random(5)
    val m = 4; val k = 3; val sub = 2
    val books = Array.fill(m, k, sub)(rnd.nextDouble())
    (1 to 30).foreach { _ =>
      val v = Array.fill(m * sub)(rnd.nextDouble())
      val out = graft.functions.PqEncode(
        Literal.create(v, ArrayType(DoubleType)), books)
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      val codes = out.getArray(0).toIntArray()
      val err2 = out.getDouble(1)
      var expectErr = 0.0
      (0 until m).foreach { s =>
        val ds = (0 until k).map { c =>
          (0 until sub).map { i =>
            val t = v(s * sub + i) - books(s)(c)(i); t * t
          }.sum
        }
        val best = ds.zipWithIndex.minBy { case (d, c) => (d, c) }
        assert(codes(s) == best._2, s"subspace $s: ${codes(s)} vs ${best._2}")
        expectErr += best._1
      }
      assert(math.abs(err2 - expectErr) < 1e-12)
    }
  }

  test("PQ coding plan is shuffle-free whole-stage codegen") {
    val plan = ops.SimilarityOps.pqCode(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"PQ encode must not shuffle the corpus:\n${plan.take(2000)}")
    // "*(n)" prefixes mark WholeStageCodegen spans in the tree string
    assert(plan.contains("*(1) Project"),
      s"PQ encode must stay inside codegen:\n${plan.take(2000)}")
  }

  test("q_llm_pq ADC top-10 recall vs exact search >= 0.5 on average") {
    val books = model._1
    val m = books.length
    val vecs = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val sub = vecs.values.head.length / m
    val codeOf = coded.map(t => t._1 -> t._2).toMap
    def recon(id: Long): Array[Double] =
      (0 until m).flatMap(s => books(s)(codeOf(id)(s))).toArray
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
      d
    }
    assert(sub * m == vecs.values.head.length)
    val ids = vecs.keys.toArray.sorted
    val queries = ids.take(20)
    val recalls = queries.map { q =>
      val qv = vecs(q)
      def top10(score: Long => Double) =
        ids.filter(_ != q).sortBy(i => (score(i), i)).take(10).toSet
      val exact = top10(i => d2(qv, vecs(i)))
      // asymmetric distance: raw query against PQ-reconstructed corpus
      val adc = top10(i => d2(qv, recon(i)))
      exact.intersect(adc).size / 10.0
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.5, s"ADC recall@10 too low: $mean (${recalls.toSeq})")
  }

  // --- dupClusters scale-safety (q_llm_dupcluster core) ---

  /** 12 distinct filler tokens per doc id so docs share no gram unless
    * planted. */
  private def uniqueText(id: Int): String =
    (0 until 24).map(j => s"u${id}w$j").mkString(" ")

  test("dupClusters excludes viral grams: a boilerplate header shared by 200 docs makes no edges") {
    import spark.implicits._
    val header = (0 until 12).map(i => s"hdr$i").mkString(" ")
    // 200 docs: common 12-token header + otherwise unique bodies.
    // Uncapped, this one gram alone is a 19,900-pair bucket; capped
    // (df=200 > MaxGramDf=32) it contributes nothing.
    val viral = (0 until 200).map(i => (i.toLong, s"$header ${uniqueText(i)}"))
    // plus one planted true near-dup pair sharing a RARE gram (df=2)
    val rare = (0 until 12).map(i => s"rare$i").mkString(" ")
    val dups = Seq((900L, s"$rare ${uniqueText(900)}"), (901L, s"$rare ${uniqueText(901)}"))
    val docs = (viral ++ dups).toDF("doc_id", "text")
    val out = ops.DedupOps.dupClusters(docs).collect()
    // only the planted pair clusters; none of the 200 header docs appear
    assert(out.length == 1, s"expected 1 cluster, got ${out.toSeq}")
    assert(out(0).getLong(0) == 900L && out(0).getLong(1) == 2L &&
      out(0).getLong(2) == 901L)
  }

  test("dupClusters pairs at the df cap boundary: df=cap clusters, df=cap+1 does not") {
    import spark.implicits._
    val cap = ops.DedupOps.MaxGramDf
    val atCap = (0 until 12).map(i => s"at$i").mkString(" ")
    val overCap = (0 until 12).map(i => s"ov$i").mkString(" ")
    val a = (0 until cap).map(i => (i.toLong, s"$atCap ${uniqueText(i)}"))
    val b = (0 until cap + 1).map(i => (1000L + i, s"$overCap ${uniqueText(1000 + i)}"))
    val docs = (a ++ b).toDF("doc_id", "text")
    val out = ops.DedupOps.dupClusters(docs).collect()
    assert(out.length == 1 && out(0).getLong(0) == 0L && out(0).getLong(1) == cap.toLong,
      s"expected one cluster of the $cap at-cap docs, got ${out.toSeq}")
  }

  test("dupClusters counts doc frequency over real doc ids: null-doc_id rows never count") {
    import spark.implicits._
    // one gram in exactly `cap` real docs (df = cap: they cluster) and
    // in two null-doc_id rows. Counted, the nulls (one row after the
    // distinct) would push df to cap + 1 and drop every edge; the
    // null rows themselves never join a cluster.
    val cap = ops.DedupOps.MaxGramDf
    val gram = (0 until 12).map(i => s"nd$i").mkString(" ")
    val real = (0 until cap).map(i => (Option(i.toLong), s"$gram ${uniqueText(i)}"))
    val nulls = Seq(2000, 2001).map(i => (Option.empty[Long], s"$gram ${uniqueText(i)}"))
    val out = ops.DedupOps.dupClusters((real ++ nulls).toDF("doc_id", "text")).collect()
    assert(out.length == 1 && out(0).getLong(0) == 0L && out(0).getLong(1) == cap.toLong &&
      out(0).getLong(2) == cap - 1L,
      s"expected one cluster of the $cap real docs, got ${out.toSeq}")
  }

  test("dupClusters fails loudly when the round budget can't reach the fixpoint") {
    import spark.implicits._
    // a 6-doc chain (diameter 5) via consecutive rare grams: doc i and
    // i+1 share gram i. maxRounds=1 cannot converge → must throw, not
    // return a partial closure.
    val docs = (0 until 6).map { i =>
      val left = if (i > 0) (0 until 12).map(j => s"g${i - 1}t$j").mkString(" ") + " " else ""
      val right = if (i < 5) (0 until 12).map(j => s"g${i}t$j").mkString(" ") + " " else ""
      (i.toLong, s"$left$right${uniqueText(i)}")
    }.toDF("doc_id", "text")
    val ex = intercept[IllegalStateException] {
      ops.DedupOps.dupClusters(docs, maxRounds = 1).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
    // and with the default budget the same chain converges to one cluster
    val ok = ops.DedupOps.dupClusters(docs).collect()
    assert(ok.length == 1 && ok(0).getLong(1) == 6L)
  }

  test("dupClusters viral guard: df gate is a streamed join, no window buffering, shared subtree") {
    import spark.implicits._
    // opt round 22: the df gate is an aggregate (bounded per-gram
    // state, spillable hash map) joined back to the gram rows — a
    // streamed join whose per-key buffered state is ONE eligible-set
    // row per gram — instead of a count() window, whose WindowExec
    // buffered an entire gm bucket before the filter ran (a
    // boilerplate mega-gram = one task sorting and spilling the whole
    // bucket just to discard it). The edges plan must therefore show
    // NO Window. The aggregate branch and the join's row branch are
    // kept textually identical up to the dedup exchange (column
    // order, null filters) so AQE's runtime stage reuse materializes
    // the gram explode ONCE — the round-21 double-scan regression
    // this spelling exists to avoid (probe evidence: one 2.7 MB
    // explode stage, two readers).
    val header = (0 until 12).map(i => s"meg$i").mkString(" ")
    val docs = (0 until 300).map(i => (i.toLong, s"$header ${uniqueText(i)}"))
      .toDF("doc_id", "text")
    val e = ops.DedupOps.dupEdges(docs)
    val plan = e.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("Window"),
      s"df gate must not buffer gm buckets in a window:\n${plan.take(3000)}")
    // both branches' dedup exchanges — the (gm, doc_id) shuffles of the
    // distinct — must canonicalize identically for stage reuse: same
    // keys, same order, same filters, the same subtree below
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dedupExchanges = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(e.queryExecution.executedPlan) {
        case x: ShuffleExchangeExec if (x.outputPartitioning match {
          case h: HashPartitioning =>
            h.expressions.collect { case a: AttributeReference => a.name }.toSet == Set("gm", "doc_id")
          case _ => false
        }) => x
      }
    assert(dedupExchanges.size >= 2 && dedupExchanges.map(_.canonicalized).distinct.size == 1,
      s"dedup exchanges must canonicalize identically for stage reuse:\n" +
        dedupExchanges.map(_.canonicalized.treeString).mkString("\n"))
    // the mega-gram makes no edges at all
    assert(e.count() == 0L)
  }
}
