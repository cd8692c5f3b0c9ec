package graft.ops

import graft.{Decl, Pack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Training-data pipeline operators, part 5: context-window chunking
  * (the doc → training-sequence split), cross-document boilerplate
  * span detection (the RefinedWeb/C4-style repeated-span filter) —
  * the two corpus-preparation passes between cleaning ([[LlmOps2]]-
  * [[LlmOps4]]) and packing ([[LlmOps3]]'s q_llm_pack) — and product
  * quantization, the codebook-trained sibling of [[LlmOps4]]'s scalar
  * quantizer for the ANN-index storage path.
  */
object LlmOps5 extends Pack {

  def decls: Seq[Decl] = Seq(

    // Context-window chunking: split each doc's token stream into
    // fixed windows (W=32) on a fixed stride (S=24, so 8 tokens of
    // overlap carry context across boundaries) — how corpora become
    // training sequences. Pure per-doc projection + explode: no
    // shuffle at all until the output sort, so it streams at any
    // corpus size.
    Decl("q_llm_chunk", (spark, dir) => {
      val toks = filter(split(col("text"), " "), t => t =!= "")
      Tables(spark, dir, "documents")
        .withColumn("toks", toks)
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"),
          explode(expr("sequence(0, size(toks)-1, 24)")).as("start"),
          col("toks"))
        .select(col("doc_id"),
          (col("start") / 24).cast("long").as("chunk_idx"),
          col("start").cast("long").as("start"),
          least(lit(32), size(col("toks")) - col("start")).cast("long").as("n_tokens"),
          element_at(col("toks"), col("start") + 1).as("head_token"))
        .orderBy(col("doc_id").asc_nulls_first, col("chunk_idx").asc_nulls_first)
    }, Some(
      """WITH t AS (SELECT doc_id,
        |            list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |          FROM documents),
        |s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS start
        |      FROM t WHERE len(toks) > 0)
        |SELECT doc_id,
        |  CAST(start // 24 AS BIGINT) AS chunk_idx,
        |  CAST(start AS BIGINT) AS start,
        |  CAST(LEAST(32, len(toks) - start) AS BIGINT) AS n_tokens,
        |  toks[start + 1] AS head_token
        |FROM s
        |ORDER BY doc_id ASC NULLS FIRST, chunk_idx ASC NULLS FIRST""".stripMargin)),

    // Cross-document boilerplate: word 8-grams appearing in >= 3
    // distinct docs are "boilerplate spans" (headers, footers, licence
    // blurbs); report each doc's share of gram instances that are
    // boilerplate. ONE corpus scan, no self-join: per-(doc, gram)
    // instance counts first (collapses within-doc repeats before any
    // wide state), then the doc-frequency is a plain COUNT(*) window
    // over the gram — each (doc, gram) row is unique, so no DISTINCT
    // buffering — then a doc-keyed final agg. Window partitions for
    // Zipf-head grams are row-count-bounded by df and spill-safe.
    // Never O(n^2), never a driver collect.
    Decl("q_llm_boilerplate", (spark, dir) => {
      val toks = filter(split(col("text"), " "), t => t =!= "")
      val g = Tables(spark, dir, "documents")
        .withColumn("toks", toks)
        .filter(size(col("toks")) >= 8)
        .select(col("doc_id"),
          explode(expr(
            "transform(sequence(0, size(toks)-8), i -> concat_ws(' ', slice(toks, i+1, 8)))")).as("gm"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("gm"))
      g.groupBy(col("doc_id"), col("gm")).agg(count(lit(1)).as("inst"))
        .withColumn("df", count(lit(1)).over(w))
        .groupBy(col("doc_id"))
        .agg(sum(col("inst")).as("n_grams"),
          sum(when(col("df") >= 3, col("inst")).otherwise(0L)).as("n_boiler"))
        .withColumn("boiler_share",
          round(col("n_boiler").cast("decimal(18,6)") /
            col("n_grams").cast("decimal(9,3)"), 4)
            .cast("decimal(18,4)").cast("double"))
        .orderBy(col("doc_id").asc_nulls_first)
    }, Some(
      """WITH w AS (SELECT doc_id,
        |            list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |          FROM documents),
        |g AS (SELECT doc_id,
        |        unnest(list_transform(range(1, len(toks) - 6),
        |          i -> array_to_string(toks[i:i+7], ' '))) AS gm
        |      FROM w WHERE len(toks) >= 8),
        |d AS (SELECT gm, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY gm)
        |SELECT g.doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN d.df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |  D4(CAST(SUM(CASE WHEN d.df >= 3 THEN 1 ELSE 0 END) AS DECIMAL(18,6))
        |    / CAST(COUNT(*) AS DECIMAL(9,3))) AS boiler_share
        |FROM g JOIN d USING (gm)
        |GROUP BY g.doc_id
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // Deterministic stratified train/val/test split (96/2/2): the
    // split assignment every training run needs, reproducible across
    // engines and re-runs because the bucket is pure integer hashing
    // on doc_id (same multiplicative hash as q_llm_sample). Per-doc
    // projection + one source×split agg — embarrassingly parallel.
    Decl("q_llm_split", (spark, dir) => {
      val bucket = ((col("doc_id") % 100000L) * 2654435761L % 1000000007L) % 100L
      Tables(spark, dir, "documents")
        .withColumn("split",
          when(bucket < 96, "train").when(bucket < 98, "val").otherwise("test"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("source").asc_nulls_first, col("split").asc_nulls_first)
    }, Some(
      """SELECT source,
        |  CASE WHEN b < 96 THEN 'train' WHEN b < 98 THEN 'val' ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM (SELECT source, doc_id,
        |        ((doc_id % 100000) * 2654435761 % 1000000007) % 100 AS b
        |      FROM documents)
        |GROUP BY source, split
        |ORDER BY source ASC NULLS FIRST, split ASC NULLS FIRST""".stripMargin)),

    // Near-duplicate CLUSTERS, not just pairs: docs sharing any whole
    // word 12-gram are edges; connected components (min-label
    // propagation to fixpoint) give each dup family one canonical
    // root — what a dedup pass actually keys its "keep one per
    // cluster" decision on. Scale shape: the candidate edge join is
    // gram-keyed AND doc-frequency-capped (grams in >MaxGramDf docs
    // are boilerplate, not near-dup evidence — and an uncapped viral
    // gram shared by n docs is an n²/2-pair bucket that OOMs one
    // task at corpus scale), so pair work is Σ|bucket|² ≤ df·rows,
    // never all-pairs; each propagation round is two keyed shuffles
    // with lineage truncated per round; rounds needed = component
    // diameter, which for near-dup families (near-cliques) is a
    // small constant — and non-convergence within the round budget
    // fails LOUDLY rather than returning a partial closure. The
    // fixpoint is order-independent, so the result is deterministic
    // and DuckDB's recursive-CTE closure (same df cap) agrees
    // exactly.
    Decl("q_llm_dupcluster", (spark, dir) =>
      dupClusters(Tables(spark, dir, "documents")), Some(
      s"""WITH RECURSIVE
        |w AS (SELECT doc_id,
        |        list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |      FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        unnest(list_transform(range(1, len(toks) - 10),
        |          i -> array_to_string(toks[i:i+11], ' '))) AS gm
        |      FROM w WHERE len(toks) >= 12),
        |gk AS (SELECT doc_id, gm FROM g
        |       QUALIFY COUNT(*) OVER (PARTITION BY gm)
        |         BETWEEN 2 AND $MaxGramDf),
        |e AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |      FROM gk x JOIN gk y ON x.gm = y.gm AND x.doc_id < y.doc_id),
        |sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        |reach(a, b) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
        |node AS (SELECT DISTINCT a AS doc FROM sym),
        |lab AS (SELECT n.doc, LEAST(n.doc, MIN(r.b)) AS root
        |        FROM node n LEFT JOIN reach r ON r.a = n.doc
        |        GROUP BY n.doc)
        |SELECT root, COUNT(*) AS n_docs, MAX(doc) AS max_doc
        |FROM lab GROUP BY root
        |ORDER BY root ASC NULLS FIRST""".stripMargin)),

    // Zipf rank-frequency slope: regress log(freq) on log(rank) over
    // the corpus vocabulary — natural text sits near -1, templated or
    // synthetic text drifts off, making the slope a cheap one-number
    // corpus-health signal. Determinism shape: ln() outputs are
    // rounded to 6dp (the two engines' libm may differ in the last
    // ulp) and summed as EXACT decimals; the closed-form slope then
    // runs on five scalar doubles in one fixed expression order, so
    // both engines produce bit-identical results. Scale shape: one
    // token explode + word-keyed count; the rank window and the
    // regression run over the VOCABULARY (≪ corpus, Heaps' law),
    // and the final agg is five scalars.
    Decl("q_llm_zipf", (spark, dir) => {
      val ws = filter(split(lower(col("text")), " "), w => w =!= "")
      val freq = Tables(spark, dir, "documents")
        .select(explode(ws).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("c").desc, col("w").asc)
      val xy = freq.withColumn("r", row_number().over(w))
        .select(
          round(log(col("r").cast("double")), 6).cast("decimal(18,6)").as("x"),
          round(log(col("c").cast("double")), 6).cast("decimal(18,6)").as("y"))
      xy.agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("x") * col("y")).cast("double").as("sxy"),
          sum(col("x") * col("x")).cast("double").as("sxx"))
        .select(
          col("n").cast("long").as("n_vocab"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 4).as("zipf_slope"))
    }, Some(
      """WITH w AS (SELECT unnest(list_filter(string_split(lower(text), ' '),
        |                 x -> x <> '')) AS w
        |           FROM documents),
        |f AS (SELECT w, COUNT(*) AS c FROM w GROUP BY w),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, w ASC) AS rnk FROM f),
        |xy AS (SELECT
        |    CAST(ROUND(ln(CAST(rnk AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
        |    CAST(ROUND(ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
        |  FROM r),
        |s AS (SELECT
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx,
        |    CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x * y) AS DOUBLE) AS sxy,
        |    CAST(SUM(x * x) AS DOUBLE) AS sxx
        |  FROM xy)
        |SELECT CAST(n AS BIGINT) AS n_vocab,
        |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope
        |FROM s""".stripMargin)),

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
      val exact = graft.ops.LlmOps.decls.find(_.name == "q_llm_simsearch").get
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
  )

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
    val sample = LlmOps2.collectSample(emb)
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
    val sample = LlmOps2.collectSample(emb)
    val dim = sample.headOption.map(_.length).getOrElse(0)
    require(dim > 0 && dim % m == 0, s"embedding dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val coarse = LlmOps2.trainFromSample(sample, nlist, iters)

    def d2(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
      d
    }
    def nearestCoarse(v: Array[Double]): Int =
      coarse.indices.minBy(c => (d2(v, coarse(c)), c))
    def residual(v: Array[Double], cid: Int): Array[Double] =
      v.indices.map(i => v(i) - coarse(cid)(i)).toArray

    // PQ codebooks trained on the SAMPLE's residuals (driver-local)
    val resSample = sample.map(v => residual(v, nearestCoarse(v)))
    val books = LlmOps5.trainBooks(resSample, m, sub, kcode, iters)

    // index: assign each vector its coarse bucket, PQ-encode the
    // residual via the codegen expression — scan → broadcast-join
    // (tiny centroid side) → project; no corpus-sized shuffle
    val cdf = LlmOps2.centroidDf(spark, coarse)
    val enc = org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.PqEncode(
        org.apache.spark.sql.GraftColumnShim.expression(
          zip_with(col("e"), col("ce"), (a, b) => a - b)), books))
    val coded = LlmOps2.assignNearest(emb, coarse)
      .join(cdf, "cid")
      .select(col("vec_id"), col("cid").as("bucket"), enc.getField("codes").as("codes"))

    // queries: collect the 5 query vectors, build per-(query, probed
    // bucket) ADC lookup tables driver-side (nprobe · m · kcode
    // doubles per query — KBs), broadcast them
    val queries = emb.filter(col("vec_id") < 5)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val lutRows = queries.flatMap { case (qid, qv) =>
      val probed = coarse.indices
        .sortBy(c => (d2(qv, coarse(c)), c)).take(nprobe)
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
    val sample = LlmOps2.collectSample(emb)
    val dim = sample.headOption.map(_.length).getOrElse(0)
    require(dim > 0 && dim % m == 0, s"embedding dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val books = LlmOps5.trainBooks(sample, m, sub, k, iters)
    val enc = org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.PqEncode(
        org.apache.spark.sql.GraftColumnShim.expression(col("e")), books))
    val out = emb.select(col("vec_id"), enc.as("enc"))
      .select(col("vec_id"), col("enc.codes").as("codes"),
        sqrt(col("enc.err2")).as("l2_err"))
    (books, out)
  }

  /** Doc-frequency cap on the 12-grams eligible as near-dup edge
    * evidence: a gram appearing in more docs than this is boilerplate
    * (license headers, navigation chrome), not duplication signal —
    * and, mechanically, one gram shared by n docs is an n²/2-pair
    * join bucket, so the cap is also the hard bound that keeps edge
    * generation Σ|bucket|² ≤ MaxGramDf·|gram rows| at any corpus
    * size. */
  val MaxGramDf = 32

  /** Near-dup connected components over shared word 12-grams (the
    * core of q_llm_dupcluster, parameterized for testing): returns
    * one row per cluster `(root, n_docs, max_doc)`. Edge generation
    * is gram-keyed with doc-frequency in [2, maxGramDf] (singleton
    * grams can't pair; viral grams are excluded — see [[MaxGramDf]]);
    * the closure runs through [[LlmOps2.duplicateGroups]]'
    * pointer-jumping min-label propagation (O(log diameter) rounds)
    * and fails loudly if the round budget is exhausted (a silent cap
    * would return a wrong partial closure for a >budget-diameter
    * chain). */
  def dupClusters(docs: DataFrame, maxGramDf: Int = MaxGramDf,
      maxRounds: Int = 50): DataFrame = {
    LlmOps2.duplicateGroups(dupEdges(docs, maxGramDf), maxRounds)
      .groupBy(col("group"))
      .agg(count(lit(1)).as("n_docs"), max(col("doc_id")).as("max_doc"))
      .select(col("group").as("root"), col("n_docs"), col("max_doc"))
      .orderBy(col("root").asc_nulls_first)
  }

  /** The candidate near-dup edges of [[dupClusters]] (exposed so specs
    * can assert the pre-closure shape: one gram explode, no window). */
  private[graft] def dupEdges(docs: DataFrame, maxGramDf: Int = MaxGramDf): DataFrame = {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    // grams are keyed by xxhash64 the moment they exist (the
    // substrdedup lesson): every downstream shuffle — the per-doc
    // distinct, the df count, the eligibility join, the pair
    // self-join — moves 8-byte keys instead of ~80-byte 12-gram
    // strings. A 64-bit collision merging two distinct grams is a
    // ~n²/2⁶⁴ event (≪ 10⁻⁶ even at 10⁹ distinct grams — and at most
    // one spurious df/edge, not a wrong closure).
    // the gm exchange is made EXPLICIT (repartition) so the df
    // aggregate below consumes the IDENTICAL exchange subtree as the
    // join-back's row side — AQE's runtime stage reuse then
    // materializes the explode+dedup once for both consumers. (An
    // anti-join placed above the dedup instead gets pushed BELOW it by
    // the optimizer, splitting the two subtrees and re-running the
    // explode — the round-21 double-scan this spelling exists to
    // avoid.)
    val g = docs
      .withColumn("toks", toks)
      .filter(size(col("toks")) >= 12 && col("doc_id").isNotNull)
      .select(
        explode(expr(
          "transform(sequence(0, size(toks)-12, 1), i -> xxhash64(concat_ws(' ', slice(toks, i+1, 12))))")).as("gm"),
        col("doc_id"))
      .distinct()
      .repartition(col("gm"))
    // df gate BEFORE the self-join, so the self-join below never sees
    // a bucket larger than maxGramDf rows: the eligible grams
    // (2 <= df <= maxGramDf) come from a gm-keyed aggregate — bounded
    // per-gram state in a spillable hash map — joined back to the gram
    // rows. Opt round 22: this replaced a gm-keyed count() window,
    // whose WindowExec buffered each whole gm bucket before its filter
    // ran, so one boilerplate mega-gram (df >> maxGramDf) would
    // sort-and-spill its whole bucket in one task just to be discarded.
    // Llm5Spec pins the shape: no Window, one gram explode, and dedup
    // exchanges that canonicalize identically for stage reuse.
    val eligible = g.groupBy(col("gm").as("egm")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxGramDf)
      .select(col("egm"))
    val gk = g.join(eligible, col("gm") === col("egm"))
      .select(col("doc_id"), col("gm"))
    // the closure then runs through [[LlmOps2.duplicateGroups]]'
    // pointer-jumping min-label propagation (O(log diameter) rounds)
    gk.as("x").join(gk.as("y"),
        col("x.gm") === col("y.gm") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b")).distinct()
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
        LlmOps2.trainFromSample(
          sample.map(v => java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub)),
          k, iters)
      })), Duration.Inf).toArray
  }
}
