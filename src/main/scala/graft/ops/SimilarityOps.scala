package graft.ops

import graft.{Decl, Pack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Similarity search and ANN operators: exact cosine top-k (the
  * brute-force baseline against a small broadcast query set), IVF over
  * trained k-means centroids, IVF-PQ, product/scalar/1-bit
  * quantization, kNN labeling, centroid and drift reports, and MMR
  * diversification. The approximate operators are oracled through
  * recall invariants against the exact top-k ([[RecallInvariant]]).
  */
object SimilarityOps extends Pack {

  /** Centroids as a broadcastable (cid, ce) frame. */
  private[ops] def centroidDf(spark: SparkSession, cents: Array[Array[Double]]): DataFrame =
    broadcast(spark.createDataFrame(
      cents.zipWithIndex.map { case (c, i) =>
        org.apache.spark.sql.Row(i, c.toSeq) }.toList.asJava,
      StructType(Seq(
        StructField("cid", IntegerType, nullable = false),
        StructField("ce", ArrayType(DoubleType), nullable = false)))))

  /** Nearest-centroid assignment as a pure projection:
    * [[graft.functions.PqEncode]] with ONE subspace is exactly the
    * argmin-over-centroids kernel, run inside whole-stage codegen.
    * The previous spelling (crossJoin with the centroid frame →
    * per-pair HOF distance → corpus-wide groupBy argmin) multiplied
    * every vector into nlist rows and then SHUFFLED the whole corpus
    * to regroup — at 100 TB that shuffle is the scan's entire cost.
    * This one is shuffle-free and ties break to the smallest cid
    * (deterministic, same as the window spelling's cid tie order). */
  private[ops] def assignNearest(df: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    val enc = org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.PqEncode(
        org.apache.spark.sql.GraftColumnShim.expression(col("e")), Array(cents)))
    df.select(col("vec_id"), col("e"), enc.getField("codes").getItem(0).as("cid"))
  }

  /** Lloyd's k-means over a deterministic hash-ordered sample. ONE
    * distributed job collects the sample (bounded: sampleN × dim
    * doubles ≈ 4 MB regardless of table size — the 100 TB table
    * contributes nothing more than the sample); the Lloyd iterations
    * then run driver-LOCAL, which replaces the former
    * 2-jobs-per-iteration distributed loop (~8 shuffle rounds of pure
    * scheduling overhead for 4096 rows) with microseconds of math.
    * Init = first nlist sample vectors in xxhash64 order (seedless
    * deterministic spread; reproducible run-to-run, which Date/Random
    * would not be).
    */
  def trainCentroids(emb: DataFrame, nlist: Int, iters: Int,
      sampleN: Int = 4096): Array[Array[Double]] =
    trainFromSample(collectSample(emb, sampleN), nlist, iters)

  /** Deterministic training sample: first `sampleN` vectors in
    * xxhash64 order (seedless spread). Callers can reuse the sample
    * to ALSO derive dataset-size heuristics — when fewer than sampleN
    * rows come back, the sample IS the dataset and a separate count()
    * job would be pure waste. */
  def collectSample(emb: DataFrame, sampleN: Int = 4096): Array[Array[Double]] =
    emb.orderBy(xxhash64(col("vec_id"))).limit(sampleN)
      .select(col("e")).collect().map(_.getSeq[Double](0).toArray)

  /** Squared Euclidean distance of two equal-length vectors. */
  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
    d
  }

  def trainFromSample(sample: Array[Array[Double]], nlist: Int,
      iters: Int): Array[Array[Double]] = {
    var cents: Array[Array[Double]] = sample.take(nlist).map(_.clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(nlist)(new Array[Double](cents(0).length))
      val counts = new Array[Long](nlist)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < nlist) {
          val d = sqDist(v, cents(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        val s = sums(best); var i = 0
        while (i < v.length) { s(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.zipWithIndex.map { case (old, cid) =>
        if (counts(cid) == 0) old // empty cluster keeps its centroid
        else sums(cid).map(_ / counts(cid))
      }
    }
    cents
  }

  /** IVF approximate top-k cosine with TRAINED centroids — the scale
    * path when the query set can't broadcast against every vector.
    * Index: every vector goes to its nearest trained centroid's list
    * (one broadcast pass). Query: each query probes only the `nprobe`
    * nearest lists and computes exact cosine inside them — work is
    * ~nprobe/nlist of brute force, and recall is BOUNDED by Llm2Spec
    * (>= 0.8 vs the exact q_llm_simsearch) instead of unquantified.
    */
  def ivfTopK(spark: SparkSession, dir: String, k: Int = 5,
      nlist: Int = 16, nprobe: Int = 6, iters: Int = 4): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val cents = trainCentroids(emb, nlist, iters)
    val indexed = assignNearest(emb, cents).withColumnRenamed("cid", "bucket")
    val cdf = centroidDf(spark, cents)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("e").as("qe"))
    val qd2 = aggregate(zip_with(col("qe"), col("ce"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (a, x) => a + x)
    val wq = Window.partitionBy(col("q_id")).orderBy(col("qd2").asc, col("cid").asc)
    val probes = q.crossJoin(cdf).withColumn("qd2", qd2)
      .withColumn("prk", row_number().over(wq)).filter(col("prk") <= nprobe)
      .select(col("q_id"), col("qe"), col("cid").as("bucket"))
    // probed candidates are still a corpus-scale slice → two-phase
    // top-k instead of one per-q_id window (see TopK.perGroup)
    val scored = indexed.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(graft.functions.VecMath.cosineSim(col("qe"), col("e")), 6))
    TopK.perGroup(scored, Seq(col("q_id")),
        Seq(col("sim").desc, col("vec_id").asc), k, "rk")
      .select(col("q_id"), col("rk"), col("vec_id"), col("sim"))
      .orderBy(col("q_id").asc_nulls_first, col("rk").asc_nulls_first,
        col("vec_id").asc_nulls_first, col("sim").asc_nulls_first)
  }

  /** Per-vector min/max int8 quantize + dequantized max abs error. */
  def sqQuantize(spark: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val e = col("embedding")
    val mn = array_min(e).cast("double")
    val mx = array_max(e).cast("double")
    // degenerate (constant) vectors quantize to code 0 with scale 1;
    // double arithmetic throughout (Spark promotes the division anyway)
    val scale = when(mx - mn > 0d, (mx - mn) / lit(255d)).otherwise(lit(1d))
    Tables(spark, dir, "embeddings")
      .withColumn("qmin", mn)
      .withColumn("scale", scale)
      .withColumn("codes",
        transform(e, x => round((x.cast("double") - col("qmin")) / col("scale")).cast("int")))
      .withColumn("max_err",
        aggregate(
          zip_with(e, col("codes"),
            (x, q) => abs(x.cast("double") - (col("qmin") + q * col("scale")))),
          lit(0d), (a, x) => greatest(a, x)))
      .select(col("vec_id"), col("qmin"), col("scale"), col("codes"), col("max_err"))
      .orderBy(col("vec_id").asc_nulls_first)
  }

  /** q_llm_pq's declared contract frame: one row measuring, in a
    * SINGLE embeddings scan carrying two codegen'd [[PqEncode]]
    * projections (the trained K=256 books and the K=1 subspace-mean
    * baseline books), the cross-engine facts of product quantization:
    * every vector gets exactly `m` codes each in [0, k)
    * (`codes_ok`); the trained codebooks reconstruct strictly better
    * than the best single-entry codebook — avg squared error < 0.8×
    * the K=1 baseline, the same margin Llm5Spec pins at sf0.001
    * (`err_ok`); and `n_vecs` is the exact corpus count DuckDB
    * recomputes independently. */
  def pqContract(spark: SparkSession, dir: String, m: Int = 8, k: Int = 256,
      iters: Int = 8): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val sample = collectSample(emb)
    val dim = sample.headOption.map(_.length).getOrElse(0)
    require(dim > 0 && dim % m == 0, s"embedding dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val books = trainBooks(sample, m, sub, k, iters)
    val base = trainBooks(sample, m, sub, 1, iters)
    def enc(bs: Array[Array[Array[Double]]]) =
      org.apache.spark.sql.GraftColumnShim.column(
        graft.functions.PqEncode(
          org.apache.spark.sql.GraftColumnShim.expression(col("e")), bs))
    emb.select(enc(books).as("enc"), enc(base).as("b"))
      .agg(
        count(lit(1)).as("n_vecs"),
        (min(array_min(col("enc.codes"))) >= 0 &&
          max(array_max(col("enc.codes"))) < k &&
          min(size(col("enc.codes"))) === m &&
          max(size(col("enc.codes"))) === m).as("codes_ok"),
        (avg(col("enc.err2")) < avg(col("b.err2")) * 0.8).as("err_ok"))
  }

  /** IVF-PQ approximate nearest neighbour — the composition a RAM-
    * resident 100 TB-corpus ANN index actually runs: coarse IVF
    * centroids prune the search to `nprobe` buckets, vectors are
    * PQ-coded on their RESIDUAL against the assigned coarse centroid
    * (residuals are smaller → same codebook budget buys less
    * distortion), queries score candidates with an ADC lookup table
    * (per query+bucket: m·k precomputed sub-distances, so scoring a
    * candidate is m table reads — never a d-dim loop), and the ADC
    * top-`rerank` get ONE exact re-rank pass. Scale shape: the coded
    * index is (vec_id, bucket, 8 bytes); LUTs are driver-computed
    * from the 5 collected query vectors (KBs) and broadcast; the only
    * corpus-sized work is the bucket-pruned LUT join. Engine-seeded
    * k-means → no oracle; Llm5Spec bounds recall vs the exact
    * brute-force search.
    */
  def ivfPqTopK(spark: SparkSession, dir: String, k: Int = 5,
      nlist: Int = 16, nprobe: Int = 6, m: Int = 8, kcode: Int = 256,
      iters: Int = 4, rerank: Int = 40): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val sample = collectSample(emb)
    val dim = sample.headOption.map(_.length).getOrElse(0)
    require(dim > 0 && dim % m == 0, s"embedding dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val coarse = trainFromSample(sample, nlist, iters)

    def nearestCoarse(v: Array[Double]): Int =
      coarse.indices.minBy(c => (sqDist(v, coarse(c)), c))
    def residual(v: Array[Double], cid: Int): Array[Double] =
      v.indices.map(i => v(i) - coarse(cid)(i)).toArray

    // PQ codebooks trained on the SAMPLE's residuals (driver-local)
    val resSample = sample.map(v => residual(v, nearestCoarse(v)))
    val books = trainBooks(resSample, m, sub, kcode, iters)

    // index: assign each vector its coarse bucket, PQ-encode the
    // residual via the codegen expression — scan → broadcast-join
    // (tiny centroid side) → project; no corpus-sized shuffle
    val cdf = centroidDf(spark, coarse)
    val enc = org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.PqEncode(
        org.apache.spark.sql.GraftColumnShim.expression(
          zip_with(col("e"), col("ce"), (a, b) => a - b)), books))
    val coded = assignNearest(emb, coarse)
      .join(cdf, "cid")
      .select(col("vec_id"), col("cid").as("bucket"), enc.getField("codes").as("codes"))

    // queries: collect the 5 query vectors, build per-(query, probed
    // bucket) ADC lookup tables driver-side (nprobe · m · kcode
    // doubles per query — KBs), broadcast them
    val queries = emb.filter(col("vec_id") < 5)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val lutRows = queries.flatMap { case (qid, qv) =>
      val probed = coarse.indices
        .sortBy(c => (sqDist(qv, coarse(c)), c)).take(nprobe)
      probed.map { cid =>
        val qr = residual(qv, cid)
        val lut = new Array[Double](m * kcode)
        for (s <- 0 until m; c <- 0 until kcode) {
          var d = 0.0; var i = 0
          while (i < sub) { val t = qr(s * sub + i) - books(s)(c)(i); d += t * t; i += 1 }
          lut(s * kcode + c) = d
        }
        org.apache.spark.sql.Row(qid, cid, lut.toSeq)
      }
    }
    val lutDf = broadcast(spark.createDataFrame(
      lutRows.toList.asJava,
      StructType(Seq(
        StructField("q_id", LongType, nullable = false),
        StructField("bucket", IntegerType, nullable = false),
        StructField("lut", ArrayType(DoubleType), nullable = false)))))

    // ADC scoring: m table reads per candidate (never a d-dim loop)
    val adc = aggregate(
      zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
        (c, s) => element_at(col("lut"), s * kcode + c + 1)),
      lit(0.0), (a, x) => a + x)
    // ADC candidates are a corpus-scale slice → two-phase top-k
    // (TopK.perGroup) instead of one per-q_id window
    val cands = TopK.perGroup(
        coded.join(lutDf, "bucket")
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("adc", adc),
        Seq(col("q_id")), Seq(col("adc").asc, col("vec_id").asc),
        rerank, "ark")
      .select(col("q_id"), col("vec_id"))

    // exact re-rank of the bounded candidate set (k·rerank rows)
    val qdf = broadcast(spark.createDataFrame(
      queries.map { case (qid, qv) => org.apache.spark.sql.Row(qid, qv.toSeq) }.toList.asJava,
      StructType(Seq(
        StructField("q_id", LongType, nullable = false),
        StructField("qe", ArrayType(DoubleType), nullable = false)))))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id").asc)
    cands.join(emb, "vec_id").join(qdf, "q_id")
      .withColumn("sim", round(graft.functions.VecMath.cosineSim(col("qe"), col("e")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("vec_id"), col("sim"))
      .orderBy(col("q_id").asc_nulls_first, col("rk").asc_nulls_first,
        col("vec_id").asc_nulls_first, col("sim").asc_nulls_first)
  }

  /** PQ-code `embeddings` under a per-subspace codebook: returns
    * (vec_id, codes array<int> of length m, l2_err).
    *
    * Scale shape: ONE bounded-sample collect trains all m codebooks
    * driver-local (no per-iteration jobs); coding is then a single
    * narrow projection through [[graft.functions.PqEncode]] — a
    * native codegen expression looping over the codebook constant —
    * so the data plane is scan → project with NO join, NO shuffle,
    * and no driver path. (The first cut joined a broadcast codebook
    * and paid m·k candidate rows per vector plus two keyed aggs:
    * 7 s for 2 000 vectors; the expression encodes them in
    * milliseconds.)
    */
  def pqCode(spark: SparkSession, dir: String, m: Int = 8, k: Int = 256,
      iters: Int = 8): DataFrame = pqModel(spark, dir, m, k, iters)._2

  /** [[pqCode]] plus the trained codebooks (`books(sub)(cid)` =
    * centroid), for consumers that reconstruct or ADC-search. */
  def pqModel(spark: SparkSession, dir: String, m: Int = 8, k: Int = 256,
      iters: Int = 8): (Array[Array[Array[Double]]], DataFrame) = {
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val sample = collectSample(emb)
    val dim = sample.headOption.map(_.length).getOrElse(0)
    require(dim > 0 && dim % m == 0, s"embedding dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val books = trainBooks(sample, m, sub, k, iters)
    val enc = org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.PqEncode(
        org.apache.spark.sql.GraftColumnShim.expression(col("e")), books))
    val out = emb.select(col("vec_id"), enc.as("enc"))
      .select(col("vec_id"), col("enc.codes").as("codes"),
        sqrt(col("enc.err2")).as("l2_err"))
    (books, out)
  }

  /** Train the m per-subspace codebooks concurrently — Lloyd over a
    * bounded sample is pure driver math with no shared state, and the
    * subspaces are independent, so the wall time is one subspace's
    * train instead of m of them. */
  private def trainBooks(sample: Array[Array[Double]], m: Int, sub: Int,
      k: Int, iters: Int): Array[Array[Array[Double]]] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(
      Future.sequence((0 until m).toList.map(s => Future {
        trainFromSample(
          sample.map(v => java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub)),
          k, iters)
      })), Duration.Inf).toArray
  }

  /** One greedy MMR pick (see the q_llm_mmr Decl for semantics). */
  final case class MmrPick(rank: Int, vecId: Long, rel: Double,
      mmr: Double, greedyOk: Boolean, monoOk: Boolean)

  /** The full greedy MMR selection over the distributed top-20
    * relevance pool — rank, picked vec, relevance, rounded MMR score,
    * plus the two measured contract booleans the declared query
    * emits. Llm9Spec asserts the planted-near-dup ordering on this
    * directly. */
  def mmrRanks(spark: SparkSession, dir: String): Seq[MmrPick] = {
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("e").as("qe"))
    val scored = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= 0)
      .withColumn("rel",
        round(graft.functions.VecMath.cosineSim(col("qe"), col("e")), 6))
      .withColumn("g", lit(1))
    val pool = TopK.perGroup(scored, Seq(col("g")),
        Seq(col("rel").desc, col("vec_id").asc), 20, "rk")
      .select(col("vec_id"), col("rel"), col("e"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        r.getSeq[Double](2).toArray))

    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[MmrPick]
    val remaining = scala.collection.mutable.ArrayBuffer(pool: _*)
    while (selected.size < 5 && remaining.nonEmpty) {
      val marginals = remaining.map { case (id, rel, e) =>
        val red = if (selected.isEmpty) 0.0
          else selected.map(s => cos(e, pool.find(_._1 == s.vecId).get._3)).max
        (id, rel, 0.5 * rel - 0.5 * red)
      }
      val best = marginals.minBy { case (id, _, m) => (-m, id) }
      val mmrRounded = math.rint(best._3 * 1e6) / 1e6
      selected += MmrPick(
        rank = selected.size + 1, vecId = best._1, rel = best._2,
        mmr = mmrRounded,
        greedyOk = false, // filled by the independent pass below
        // non-increasing holds exactly for rank >= 3 (see Decl doc);
        // rank 1 has no predecessor and rank 2's predecessor used the
        // empty-set red=0 convention, so both are vacuously true
        monoOk = selected.size + 1 <= 2 ||
          selected.lastOption.forall(_.mmr >= mmrRounded))
      remaining --= remaining.filter(_._1 == best._1)
    }

    // Independent greedy verification (ADVICE r15: the in-loop
    // "best >= all marginals" was true by construction). This pass
    // re-derives every step's marginals FROM SCRATCH off the final
    // pick list: a second cosine spelling (reversed summation order —
    // separate code path, same math) and a redundancy set rebuilt
    // from the emitted ranks, then checks the stored pick is the
    // argmax within 1e-9 (float-order tolerance; a selection bug —
    // wrong argmax, stale redundancy set, wrong pool — is off by far
    // more than summation-order noise). A flipped comparison or a
    // pick leaked from outside the step's remaining set now turns
    // greedy_ok false instead of being unfalsifiable.
    def cos2(a: Array[Double], b: Array[Double]): Double = {
      val d = a.indices.foldRight(0.0)((i, acc) => acc + a(i) * b(i))
      val na = a.foldRight(0.0)((x, acc) => acc + x * x)
      val nb = b.foldRight(0.0)((x, acc) => acc + x * x)
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = pool.map(p => p._1 -> p).toMap
    selected.toSeq.map { p =>
      val prior = selected.filter(_.rank < p.rank).toSeq
      val priorIds = prior.map(_.vecId).toSet
      val stepPool = pool.filterNot(c => priorIds.contains(c._1))
      val marg = stepPool.map { case (id, rel, e) =>
        val red = if (prior.isEmpty) 0.0
          else prior.map(s => cos2(e, byId(s.vecId)._3)).max
        id -> (0.5 * rel - 0.5 * red)
      }.toMap
      val ok = marg.contains(p.vecId) &&
        marg.values.forall(m => marg(p.vecId) >= m - 1e-9)
      p.copy(greedyOk = ok)
    }
  }

  def decls: Seq[Decl] = Seq(

    Decl("q_llm_simsearch", (spark, dir) => {
      val emb = Tables(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("e").as("qe"))
      val scored = emb.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("sim", round(graft.functions.VecMath.cosineSim(col("qe"), col("e")), 6))
      // two-phase top-k (TopK.perGroup): per-query candidates are
      // corpus-sized, so a single per-q_id window would shuffle the
      // whole scan into |queries| tasks
      TopK.perGroup(scored, Seq(col("q_id")),
          Seq(col("sim").desc, col("vec_id").asc), 5, "rk")
        .select(col("q_id"), col("rk"), col("vec_id"), col("sim"))
        .orderBy(col("q_id").asc_nulls_first, col("rk").asc_nulls_first,
          col("vec_id").asc_nulls_first, col("sim").asc_nulls_first)
    }, Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |q AS (SELECT vec_id AS q_id, e AS qe FROM e WHERE vec_id < 5),
        |sims AS (
        |  SELECT q.q_id, e.vec_id,
        |    ROUND(
        |      list_sum(list_transform(generate_series(1, len(qe)), i -> qe[i] * e[i]))
        |      / (sqrt(list_sum(list_transform(qe, x -> x * x)))
        |         * sqrt(list_sum(list_transform(e.e, x -> x * x)))), 6) AS sim
        |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
        |ranked AS (
        |  SELECT q_id, vec_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rk
        |  FROM sims)
        |SELECT q_id, rk, vec_id, sim FROM ranked WHERE rk <= 5
        |ORDER BY q_id ASC NULLS FIRST, rk ASC NULLS FIRST,
        |  vec_id ASC NULLS FIRST, sim ASC NULLS FIRST""".stripMargin)),

    // IVF ANN oracled via its RECALL invariant against the exact
    // brute-force top-k (q_llm_simsearch, itself DuckDB-oracled):
    // both sides are deterministic, and the promises "recall@5 >= 0.6
    // per query AND >= 0.8 aggregate, at nprobe=8/nlist=16" are
    // cross-engine facts the oracle pins as TRUE columns (per-query,
    // one unprobed boundary list can legitimately cost 2 of 5
    // neighbors, hence the looser per-q bound). The raw IVF ranking
    // stays engine-side (centroid training order is engine-specific),
    // spec-bounded in Llm2Spec.
    Decl("q_llm_simsearch_ivf", (spark, dir) => {
      val exact = decls.find(_.name == "q_llm_simsearch").get
        .fn(spark, dir).select(col("q_id"), col("vec_id"))
      val approx = ivfTopK(spark, dir, nprobe = 8).select(col("q_id"), col("vec_id"))
      RecallInvariant(exact, approx,
        queryIds = Tables(spark, dir, "embeddings")
          .filter(col("vec_id") < 5).select(col("vec_id").as("q_id")),
        minHitsPerQuery = 3, minHitsTotal = 20)
    }, Some(
      """SELECT DISTINCT vec_id AS q_id, TRUE AS recall_ok, TRUE AS suite_recall_ok
        |FROM embeddings WHERE vec_id < 5
        |ORDER BY q_id ASC NULLS FIRST""".stripMargin)),

    // IVF-PQ ANN search (coarse pruning + residual PQ codes + ADC
    // lookup-table scoring + exact re-rank) — see [[ivfPqTopK]].
    // Oracled via the same RECALL invariant as q_llm_simsearch_ivf:
    // recall@5 >= 0.6 per query and >= 0.8 aggregate vs the exact
    // brute-force top-k at nprobe=10 are cross-engine facts; the raw
    // ADC ranking (codebook-dependent) stays spec-bounded in Llm5Spec.
    // Scale calibration (measured at sf0.001/0.01/0.1 = 500/500/2000
    // vectors): the fixed rerank=40 window held the per-query bound at
    // the two gate fixtures but dipped to 2/5 on one sf0.1 query —
    // 4x the density in the same space shrinks true-neighbor distance
    // gaps below the PQ quantization error, so the ADC ranking pushes
    // true neighbors past a fixed window (probing MORE lists did not
    // fix it; widening the EXACT re-rank window did, and it is
    // monotone — the re-rank picks top-k by true distance from a
    // superset). The window now scales with corpus size (n/5, floor
    // 40, cap 4000 — the cap is the 100 TB story: past that you grow
    // nlist ~ sqrt(n) to keep buckets and ADC error flat instead of
    // growing the window), and nprobe rides at 10/16.
    Decl("q_llm_simsearch_ivfpq", (spark, dir) => {
      val exact = decls.find(_.name == "q_llm_simsearch").get
        .fn(spark, dir).select(col("q_id"), col("vec_id"))
      val n = Tables(spark, dir, "embeddings").count() // parquet-stat count
      val win = math.min(4000L, math.max(40L, n / 5)).toInt
      val approx = ivfPqTopK(spark, dir, nprobe = 10, rerank = win)
        .select(col("q_id"), col("vec_id"))
      RecallInvariant(exact, approx,
        queryIds = Tables(spark, dir, "embeddings")
          .filter(col("vec_id") < 5).select(col("vec_id").as("q_id")),
        minHitsPerQuery = 3, minHitsTotal = 20)
    }, Some(
      """SELECT DISTINCT vec_id AS q_id, TRUE AS recall_ok, TRUE AS suite_recall_ok
        |FROM embeddings WHERE vec_id < 5
        |ORDER BY q_id ASC NULLS FIRST""".stripMargin)),

    // Product quantization: split each 64-d embedding into M=8
    // subspaces of 8 dims, train a 256-entry codebook per subspace
    // (driver-local Lloyd over the same deterministic 4 MB-bounded
    // sample as q_llm_embdup_lsh), code every vector as its 8
    // per-subspace nearest centroids — 256 B fp32 → 8 bytes, the
    // memory step that makes a 100 TB-corpus ANN index fit RAM.
    // Codebooks are engine-seeded k-means, so raw codes stay
    // spec-checked (Llm5Spec: well-formedness, determinism, ADC
    // recall); the DECLARED query oracles the contract instead —
    // see [[pqContract]] — beside DuckDB's exact corpus count.
    Decl("q_llm_pq", (spark, dir) => pqContract(spark, dir),
      Some("SELECT COUNT(*) AS n_vecs, TRUE AS codes_ok, TRUE AS err_ok FROM embeddings")),

    // Int8 scalar quantization of embeddings (the storage path for a
    // 100 TB vector corpus: 4× smaller than fp32, reconstruction error
    // bounded by half a quantization step). The declared output keeps
    // only scalar columns (the verifier sorts rows; an array<int>
    // column is unsortable there) — codes ship as their canonical
    // string form, which DuckDB's LIST→VARCHAR cast matches exactly.
    // All arithmetic is double-precision IEEE in an identical op
    // order in both engines, so values are bit-identical and
    // hash-comparable; Llm4Spec additionally bounds the error.
    Decl("q_llm_sq", (spark, dir) =>
      sqQuantize(spark, dir)
        .select(col("vec_id"), col("qmin"), col("scale"),
          col("codes").cast("string").as("codes_str"), col("max_err"))
        .orderBy(col("vec_id").asc_nulls_first),
      Some(
        """WITH q AS (
          |  SELECT vec_id, embedding,
          |    CAST(list_min(embedding) AS DOUBLE) AS qmin,
          |    CASE WHEN CAST(list_max(embedding) AS DOUBLE)
          |            - CAST(list_min(embedding) AS DOUBLE) > 0
          |      THEN (CAST(list_max(embedding) AS DOUBLE)
          |            - CAST(list_min(embedding) AS DOUBLE)) / 255.0
          |      ELSE 1.0 END AS scale
          |  FROM embeddings)
          |SELECT vec_id, qmin, scale,
          |  CAST(list_transform(embedding,
          |    x -> CAST(round((CAST(x AS DOUBLE) - qmin) / scale) AS INT))
          |    AS VARCHAR) AS codes_str,
          |  list_max(list_transform(embedding,
          |    x -> abs(CAST(x AS DOUBLE)
          |      - (qmin + CAST(round((CAST(x AS DOUBLE) - qmin) / scale) AS INT)
          |         * scale)))) AS max_err
          |FROM q ORDER BY vec_id ASC NULLS FIRST""".stripMargin)),

    // Sign-bit Hamming search: binarize the first 32 embedding dims to
    // a sign bitmap packed in one BIGINT, rank candidates by XOR
    // popcount against a broadcast query set. 1-bit quantization is the
    // memory floor of the ANN family (vs q_llm_sq's int8 and
    // q_llm_pq's codebooks); Hamming distance on packed words is a
    // single XOR+POPCNT — whole-stage codegen, no doubles anywhere, so
    // results are bit-exact across engines. Scale shape: the corpus is
    // scanned once against <= 20 broadcast codes; top-5 per query runs
    // as a two-phase partial top-k ([[TopK.perGroup]]) so no task ever
    // holds one query's full corpus-sized candidate set; candidate
    // CODES travel as 8 bytes/row.
    Decl("q_llm_hamming", (spark, dir) => {
      val coded = Tables(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        .withColumn("code", expr(
          """aggregate(sequence(0, 31), 0L,
            |  (acc, i) -> acc + IF(element_at(e, i + 1) > 0D,
            |    shiftleft(1L, i), 0L))""".stripMargin))
        .select(col("vec_id"), col("code"))
      val q = coded.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("code").as("qcode"))
      val scored = coded.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("dist", bit_count(col("qcode").bitwiseXOR(col("code"))))
      TopK.perGroup(scored, Seq(col("q_id")),
          Seq(col("dist").asc, col("vec_id").asc), 5, "rk")
        .select(col("q_id"), col("rk"), col("vec_id"), col("dist"))
        .orderBy(col("q_id").asc_nulls_first, col("rk").asc_nulls_first)
    }, Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |coded AS (SELECT vec_id,
        |    CAST(list_sum(list_transform(generate_series(1, 32),
        |      i -> CASE WHEN e[i] > 0 THEN (1::BIGINT << (i - 1))
        |        ELSE 0 END)) AS BIGINT) AS code
        |  FROM e),
        |q AS (SELECT vec_id AS q_id, code AS qcode FROM coded WHERE vec_id < 20),
        |d AS (SELECT q.q_id, c.vec_id,
        |    CAST(bit_count(xor(q.qcode, c.code)) AS INT) AS dist
        |  FROM coded c CROSS JOIN q WHERE c.vec_id <> q.q_id),
        |ranked AS (SELECT q_id, vec_id, dist,
        |    ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY dist ASC, vec_id ASC) AS rk
        |  FROM d)
        |SELECT q_id, rk, vec_id, dist FROM ranked WHERE rk <= 5
        |ORDER BY q_id ASC NULLS FIRST, rk ASC NULLS FIRST""".stripMargin)),

    // kNN label agreement: for each query vector, do its 10 nearest
    // cosine neighbors vote its own label? The standard embedding-
    // quality / label-noise probe run before trusting labels or
    // distillation targets. Scale shape: the query set is bounded and
    // broadcast (the q_llm_simsearch pattern) so the corpus is
    // scanned once with no shuffle on the big side; votes and the
    // argmax are per-query windows over <= k rows. Ties in both the
    // neighbor ranking (sim, vec_id) and the vote (count desc, label
    // asc) break deterministically.
    Decl("q_llm_knnlabel", (spark, dir) => {
      val emb = Tables(spark, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("e"))
      val q = emb.filter(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("label").as("true_label"),
          col("e").as("qe"))
      val scored = emb.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("sim",
          round(graft.functions.VecMath.cosineSim(col("qe"), col("e")), 6))
      // neighbor candidates are corpus-sized per query → two-phase
      // top-k (TopK.perGroup), not one per-q_id window
      val nbrs = TopK.perGroup(scored, Seq(col("q_id")),
        Seq(col("sim").desc, col("vec_id").asc), 10, "rk")
      val wVote = Window.partitionBy(col("q_id"))
        .orderBy(col("n_votes").desc, col("label").asc)
      nbrs.groupBy(col("q_id"), col("true_label"), col("label"))
        .agg(count(lit(1)).as("n_votes"))
        .withColumn("vr", row_number().over(wVote))
        .filter(col("vr") === 1)
        .select(col("q_id"), col("true_label"),
          col("label").as("pred_label"), col("n_votes"),
          (col("true_label") === col("label")).cast("int").as("correct"))
        .orderBy(col("q_id").asc_nulls_first)
    }, Some(
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, label AS true_label, e AS qe
        |  FROM e WHERE vec_id < 50),
        |sims AS (
        |  SELECT q.q_id, q.true_label, e.vec_id, e.label,
        |    ROUND(
        |      list_sum(list_transform(generate_series(1, len(qe)), i -> qe[i] * e.e[i]))
        |      / (sqrt(list_sum(list_transform(qe, x -> x * x)))
        |         * sqrt(list_sum(list_transform(e.e, x -> x * x)))), 6) AS sim
        |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
        |nbrs AS (
        |  SELECT q_id, true_label, label,
        |    ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY sim DESC, vec_id ASC) AS rk
        |  FROM sims),
        |votes AS (
        |  SELECT q_id, true_label, label, COUNT(*) AS n_votes
        |  FROM nbrs WHERE rk <= 10 GROUP BY 1, 2, 3),
        |pred AS (
        |  SELECT q_id, true_label, label AS pred_label, n_votes,
        |    ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY n_votes DESC, label ASC) AS vr
        |  FROM votes)
        |SELECT q_id, true_label, pred_label, n_votes,
        |  CAST(true_label = pred_label AS INT) AS correct
        |FROM pred WHERE vr = 1
        |ORDER BY q_id ASC NULLS FIRST""".stripMargin)),

    // Per-label centroid tightness: centroid norm + mean cosine of
    // members to their centroid — the cluster-quality / drift signal
    // for embedding spaces (a label whose members don't face their
    // centroid is noisy or multi-modal). Scale shape: posexplode to
    // (label, dim) rows → one keyed aggregation for centroids (64*L
    // keys), broadcast-join the tiny centroid table back, one keyed
    // aggregation per (vec, label) for dots — the corpus is read once
    // and nothing unbounded sits on the driver. Double sums are
    // order-dependent in the last bits; rounding to 4dp absorbs it
    // (the q_llm_entropy precedent).
    Decl("q_llm_centroid", (spark, dir) => {
      val d = Tables(spark, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("i", "v")))
      val cent = d.groupBy(col("label"), col("i")).agg(avg(col("v")).as("c"))
      val cnorm = cent.groupBy(col("label"))
        .agg(sqrt(sum(col("c") * col("c"))).as("cnorm"))
      val dots = d.join(broadcast(cent), Seq("label", "i"))
        .groupBy(col("vec_id"), col("label"))
        .agg(sum(col("v") * col("c")).as("dot"),
          sqrt(sum(col("v") * col("v"))).as("vnorm"))
      dots.join(broadcast(cnorm), "label")
        .withColumn("cos", col("dot") / (col("vnorm") * col("cnorm")))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          round(first(col("cnorm")), 4).as("centroid_norm"),
          round(avg(col("cos")), 4).as("avg_cos"))
        .orderBy(col("label").asc_nulls_first)
    }, Some(
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |d AS (SELECT vec_id, label,
        |    unnest(generate_series(1, len(e))) AS i, unnest(e) AS v
        |  FROM e),
        |cent AS (SELECT label, i, AVG(v) AS c FROM d GROUP BY 1, 2),
        |cn AS (SELECT label, sqrt(SUM(c * c)) AS cnorm FROM cent GROUP BY 1),
        |dots AS (SELECT d.vec_id, d.label, SUM(d.v * cent.c) AS dot,
        |    sqrt(SUM(d.v * d.v)) AS vnorm
        |  FROM d JOIN cent ON d.label = cent.label AND d.i = cent.i
        |  GROUP BY 1, 2)
        |SELECT dots.label, COUNT(*) AS n_vecs,
        |  ROUND(MIN(cn.cnorm), 4) AS centroid_norm,
        |  ROUND(AVG(dots.dot / (dots.vnorm * cn.cnorm)), 4) AS avg_cos
        |FROM dots JOIN cn ON dots.label = cn.label
        |GROUP BY dots.label
        |ORDER BY dots.label ASC NULLS FIRST""".stripMargin)),

    // Embedding-space drift between label groups (dataset versions,
    // sources, shards): pairwise L1/L2 distance of per-group mean
    // vectors — the monitor that catches an encoder change or a
    // contaminated shard before training does. Scale shape: ONE keyed
    // aggregation over the corpus (label x dim keys), then the tiny
    // means table pairs with itself — the corpus is read once and
    // nothing grows with n. round(…,4) absorbs double-sum order
    // variance (the [[q_llm_centroid]] precedent).
    Decl("q_llm_embdrift", (spark, dir) => {
      val d = Tables(spark, dir, "embeddings")
        .select(col("label"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("i", "v")))
      val m = d.groupBy(col("label"), col("i")).agg(avg(col("v")).as("m"))
      val a = m.select(col("label").as("la"), col("i"), col("m").as("ma"))
      val b = m.select(col("label").as("lb"), col("i"), col("m").as("mb"))
      a.join(b, Seq("i")).filter(col("la") < col("lb"))
        .groupBy(col("la"), col("lb"))
        .agg(
          round(sum(abs(col("ma") - col("mb"))), 4).as("l1_drift"),
          round(sqrt(sum((col("ma") - col("mb")) * (col("ma") - col("mb")))), 4)
            .as("l2_drift"))
        .orderBy(col("la").asc_nulls_first, col("lb").asc_nulls_first)
    }, Some(
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |d AS (SELECT label, unnest(generate_series(1, len(e))) AS i, unnest(e) AS v
        |      FROM e),
        |m AS (SELECT label, i, AVG(v) AS m FROM d GROUP BY 1, 2)
        |SELECT a.label AS la, b.label AS lb,
        |  ROUND(SUM(ABS(a.m - b.m)), 4) AS l1_drift,
        |  ROUND(sqrt(SUM((a.m - b.m) * (a.m - b.m))), 4) AS l2_drift
        |FROM m a JOIN m b USING (i)
        |WHERE a.label < b.label
        |GROUP BY 1, 2
        |ORDER BY la ASC NULLS FIRST, lb ASC NULLS FIRST""".stripMargin)),

    // MMR (maximal marginal relevance) diversified retrieval: rank 5
    // results for query vec 0 trading relevance against redundancy,
    // mmr_i = 0.5 rel_i - 0.5 max_{j in S} sim(i, j) — the standard
    // post-ANN diversification step (near-duplicate hits shouldn't
    // fill the result page). Scale shape: relevance scoring + the
    // top-20 pool are fully distributed (one corpus scan, two-phase
    // top-k); the greedy selection is inherently sequential, runs on
    // the PROVABLY bounded 20-row pool driver-side (the k-means/PQ
    // trainer precedent), and ties break on vec_id. The declared
    // query oracles the greedy CONTRACT: the first pick is exactly
    // the relevance argmax (DuckDB recomputes top-1 cosine id+score
    // independently), each pick is the argmax of its step's marginals
    // under an INDEPENDENT re-derivation (`greedy_ok` — second cosine
    // spelling + redundancy set rebuilt from the emitted ranks, see
    // [[mmrRanks]]), and rounded MMR
    // scores are non-increasing from rank 2 down (`mono_ok` — exact:
    // a fixed candidate's redundancy max only grows as S grows; rank
    // 1→2 is exempt because rank 1's redundancy is DEFINED as 0 over
    // the empty set while rank 2's is a real cosine that may be
    // negative, lifting its marginal above rank 1's). Full
    // rank-2..5 ids stay engine-dependent → [[mmrRanks]] + Llm9Spec's
    // planted near-dup fixture.
    Decl("q_llm_mmr", (spark, dir) => {
      val picks = mmrRanks(spark, dir)
      import spark.implicits._
      picks.map { p =>
        (p.rank,
          if (p.rank == 1) Some(p.vecId) else None,
          if (p.rank == 1) Some(p.rel) else None,
          p.greedyOk, p.monoOk)
      }.toDF("rank", "top1_id", "top1_rel", "greedy_ok", "mono_ok")
        .orderBy(col("rank").asc_nulls_first)
    }, Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |q AS (SELECT e AS qe FROM e WHERE vec_id = 0),
        |sims AS (
        |  SELECT e.vec_id,
        |    ROUND(
        |      list_sum(list_transform(generate_series(1, len(qe)), i -> qe[i] * e[i]))
        |      / (sqrt(list_sum(list_transform(qe, x -> x * x)))
        |         * sqrt(list_sum(list_transform(e.e, x -> x * x)))), 6) AS rel
        |  FROM e CROSS JOIN q WHERE e.vec_id <> 0),
        |t1 AS (SELECT vec_id, rel FROM sims ORDER BY rel DESC, vec_id ASC LIMIT 1)
        |SELECT CAST(g.rank AS INTEGER) AS rank,
        |  CASE WHEN g.rank = 1 THEN t1.vec_id END AS top1_id,
        |  CASE WHEN g.rank = 1 THEN t1.rel END AS top1_rel,
        |  TRUE AS greedy_ok, TRUE AS mono_ok
        |FROM generate_series(1, 5) AS g(rank) CROSS JOIN t1
        |ORDER BY rank ASC NULLS FIRST""".stripMargin)),

  )
}
