package graft.ops

import graft.{Decl, Pack, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline and sampling operators: sequence packing,
  * context-window chunking, train/eval splits, deterministic
  * stratified and domain-mix sampling, temperature mixing, shuffles,
  * filter curves, curricula, data cards, dataset diffs, and the whole
  * prepare-for-training pipeline as one query. Sampling decisions use
  * one arithmetic hash of the id ([[samplingBucket]]), so the oracle
  * computes the identical value.
  */
object PipelineOps extends Pack {

  /** Deterministic per-doc sampling hash in [0, 100): modular
    * arithmetic only, so the ORACLE computes the identical value —
    * xxhash64/md5-bucket variants hash differently across engines.
    * Knuth multiplicative step over the id residue; every factor kept
    * small enough that the product stays far below 2^63 (DuckDB errors
    * on BIGINT overflow where Spark wraps).
    */
  private def samplingBucket(id: Column): Column =
    ((id % 100000L) * 2654435761L % 1000000007L) % 100L

  def decls: Seq[Decl] = Seq(

    // Sequence packing (concat-then-chunk, the standard pretraining
    // batching step): documents in id order are laid head-to-tail and
    // cut into fixed token-budget packs; a doc belongs to the pack its
    // FIRST token lands in. The prefix sum is two-level — partial sums
    // per id-bucket, a small window over bucket totals, then a
    // bucket-local window — so no stage ever runs a global
    // single-partition window over the full corpus (the naive
    // `Window.orderBy(id)` plan would serialize 100 TB through one
    // task; here the unpartitioned window only ever sees
    // n_docs / 1000 bucket rows).
    Decl("q_llm_pack", (spark, dir) => {
      val L = 512 // pack budget, tokens
      val docs = Tables(spark, dir, "documents")
        .select(col("doc_id"), expr("(length(text) + 3) div 4").as("est"))
        .withColumn("bkt", expr("doc_id div 1000"))
      val bucketTotals = docs.groupBy(col("bkt")).agg(sum(col("est")).as("bkt_tok"))
        .withColumn("bkt_offset",
          coalesce(sum(col("bkt_tok")).over(
            Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("bkt"), col("bkt_offset"))
      val within = Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      docs.join(broadcast(bucketTotals), "bkt")
        .withColumn("cum_before",
          col("bkt_offset") + coalesce(sum(col("est")).over(within), lit(0L)))
        .withColumn("pack_id", expr(s"cum_before div $L"))
        .groupBy(col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("est")).as("pack_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("pack_id").asc_nulls_first)
    }, Some(
      """WITH t AS (SELECT doc_id, (length(text) + 3) // 4 AS est FROM documents),
        |c AS (SELECT doc_id, est,
        |        CAST(COALESCE(SUM(est) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |      FROM t)
        |SELECT cum_before // 512 AS pack_id, COUNT(*) AS n_docs,
        |  CAST(SUM(est) AS BIGINT) AS pack_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY pack_id
        |ORDER BY pack_id ASC NULLS FIRST""".stripMargin)),

    // Context-window chunking: split each doc's token stream into
    // fixed windows (W=32) on a fixed stride (S=24, so 8 tokens of
    // overlap carry context across boundaries) — how corpora become
    // training sequences. Pure per-doc projection + explode: no
    // shuffle at all until the output sort, so it streams at any
    // corpus size.
    Decl("q_llm_chunk", (spark, dir) => {
      val toks = Text.words(col("text"))
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
        |            WORDS(text) AS toks
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

    // Deterministic stratified sampling: per-language keep rates
    // driven by a shared arithmetic hash of the id — reproducible
    // across runs AND engines, no state, one narrow pass (the way a
    // corpus is downsampled per-source/language for a training mix).
    Decl("q_llm_sample", (spark, dir) => {
      val rate = when(col("lang") === "en", 10L).otherwise(30L)
      Tables(spark, dir, "documents")
        .filter(samplingBucket(col("doc_id")) < rate)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id").asc_nulls_first, col("lang").asc_nulls_first)
    }, Some(
      """SELECT doc_id, lang FROM documents
        |WHERE ((doc_id % 100000) * 2654435761 % 1000000007) % 100
        |      < CASE WHEN lang = 'en' THEN 10 ELSE 30 END
        |ORDER BY doc_id ASC NULLS FIRST, lang ASC NULLS FIRST""".stripMargin)),

    // Domain mixing: resample sources toward a target weighting (the
    // "data mixture" step before training). Per-source keep rates are
    // derived from target weight × global budget ÷ source size in
    // INTEGER arithmetic (exact cross-engine), then applied through
    // the shared deterministic sampling hash. Counting pass + rate
    // join are both source-keyed; the rate table is tiny → broadcast.
    Decl("q_llm_domainmix", (spark, dir) => {
      val docs = Tables(spark, dir, "documents")
      val wt = when(col("source").isin("src0", "src1", "src2", "src3", "src4"), 2L)
        .otherwise(1L)
      val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("c"))
        .withColumn("wt", wt)
      val tot = docs.agg(count(lit(1)).as("n"))
      // budget = n/2 docs, split ∝ wt over 25 weight units:
      // rate% = min(100, wt·n·100 / (50·c))
      val rates = counts.crossJoin(broadcast(tot))
        .withColumn("rate", least(lit(100L),
          expr("(wt * n * 100) div (50 * c)")))
        .select(col("source"), col("rate"))
      docs.join(broadcast(rates), "source")
        .filter(samplingBucket(col("doc_id")) < col("rate"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("kept"), min(col("rate")).as("rate"))
        .orderBy(col("source").asc_nulls_first)
    }, Some(
      """WITH c AS (SELECT source, COUNT(*) AS c,
        |             CASE WHEN source IN ('src0','src1','src2','src3','src4')
        |               THEN 2 ELSE 1 END AS wt
        |           FROM documents GROUP BY source),
        |t AS (SELECT COUNT(*) AS n FROM documents),
        |r AS (SELECT source, LEAST(100, (wt * n * 100) // (50 * c)) AS rate
        |      FROM c CROSS JOIN t)
        |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS kept,
        |  CAST(MIN(rate) AS BIGINT) AS rate
        |FROM documents d JOIN r USING (source)
        |WHERE ((doc_id % 100000) * 2654435761 % 1000000007) % 100 < rate
        |GROUP BY d.source
        |ORDER BY d.source ASC NULLS FIRST""".stripMargin)),

    // The whole prepare-for-training pipeline as ONE declared query —
    // quality filter → exact dedup → deterministic sample → sequence
    // packing — every stage oracle-expressible, so DuckDB checks the
    // COMPOSITION, not just the pieces.
    Decl("q_llm_pipeline", (spark, dir) => {
      val ws = Text.words(lower(col("text")))
      val scored = Tables(spark, dir, "documents")
        .withColumn("ws", ws)
        .withColumn("n_words", size(col("ws")))
        .withColumn("stop_ratio",
          size(filter(col("ws"), w => w.isin("the", "a", "of", "and"))).cast("double") /
            col("n_words"))
        .withColumn("score", round(
          least(col("n_words") / 200.0, lit(1.0)) * 0.5 +
            least(col("stop_ratio") * 12.5, lit(1.0)) * 0.5, 6))
        .filter(col("score") >= 0.5)
      val deduped = scored
        .withColumn("h", sha2(lower(trim(col("text"))), 256))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("h")).orderBy(col("doc_id"))))
        .filter(col("rn") === 1)
      val sampled = deduped.filter(samplingBucket(col("doc_id")) < 50)
        .select(col("doc_id"), expr("(length(text) + 3) div 4").as("est"))
        .withColumn("bkt", expr("doc_id div 1000"))
      val bucketTotals = sampled.groupBy(col("bkt")).agg(sum(col("est")).as("bkt_tok"))
        .withColumn("bkt_offset",
          coalesce(sum(col("bkt_tok")).over(
            Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("bkt"), col("bkt_offset"))
      val within = Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      sampled.join(broadcast(bucketTotals), "bkt")
        .withColumn("cum_before",
          col("bkt_offset") + coalesce(sum(col("est")).over(within), lit(0L)))
        .withColumn("pack_id", expr("cum_before div 512"))
        .groupBy(col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("est")).as("pack_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("pack_id").asc_nulls_first)
    }, Some(
      """WITH w AS (
        |  SELECT doc_id, text,
        |    WORDS(lower(text)) AS ws
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text, len(ws) AS n_words,
        |      CAST(len(list_filter(ws, x -> x IN ('the','a','of','and'))) AS DOUBLE)
        |        / len(ws) AS stop_ratio
        |    FROM w)
        |  WHERE ROUND(LEAST(n_words / 200.0, 1.0) * 0.5
        |            + LEAST(stop_ratio * 12.5, 1.0) * 0.5, 6) >= 0.5),
        |d AS (
        |  SELECT doc_id, text FROM q
        |  QUALIFY row_number() OVER (PARTITION BY sha256(lower(trim(text)))
        |                             ORDER BY doc_id) = 1),
        |s AS (
        |  SELECT doc_id, (length(text) + 3) // 4 AS est FROM d
        |  WHERE ((doc_id % 100000) * 2654435761 % 1000000007) % 100 < 50),
        |c AS (
        |  SELECT doc_id, est,
        |    CAST(COALESCE(SUM(est) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM s)
        |SELECT cum_before // 512 AS pack_id, COUNT(*) AS n_docs,
        |  CAST(SUM(est) AS BIGINT) AS pack_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY pack_id
        |ORDER BY pack_id ASC NULLS FIRST""".stripMargin)),

    // Deterministic global corpus shuffle: the "shuffle your training
    // data" step, made reproducible across runs AND engines by sorting
    // on a salted cryptographic hash of the key instead of a RNG —
    // md5(seed || doc_id) gives a uniform pseudo-random permutation
    // any engine replays bit-identically. The sort is Spark's
    // range-partitioned global sort (sampled bounds → balanced
    // partitions at any scale); epoch reshuffles are just a new seed.
    // The declared result is the permutation's head: top-100 by
    // shuffle key plans as a distributed TakeOrderedAndProject (per-
    // partition heaps, no global sort materialized), and only the 100
    // surviving rows see the rank window — a global window over the
    // corpus would single-partition it, which is exactly what this
    // shape avoids.
    Decl("q_llm_shuffle", (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val key = md5(concat(lit("epoch0:"), col("doc_id").cast("string")))
      Tables(spark, dir, "documents")
        .select(col("doc_id"), col("source"), key.as("shuffle_key"))
        .orderBy(col("shuffle_key").asc_nulls_first, col("doc_id").asc_nulls_first)
        .limit(100)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("shuffle_key"), col("doc_id"))))
        .orderBy(col("rank").asc_nulls_first)
    }, Some(
      """SELECT doc_id, source, md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
        |  CAST(row_number() OVER (ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rank
        |FROM documents
        |QUALIFY rank <= 100
        |ORDER BY rank ASC NULLS FIRST""".stripMargin)),

    // Temperature-weighted domain mixing: w_i = n_i^0.5 / sum_j n_j^0.5
    // (alpha = 0.5 flattens the source distribution toward uniform —
    // the mT5/XLM-R upsampling rule), then an integer doc budget per
    // source out of 1000. Scale shape: one per-source count (a 20-row
    // aggregate at any corpus size — sources are data-bounded), the
    // normalizer broadcast back. floor() keeps the budget integer-exact
    // in both engines; the 4dp weight rounding absorbs double-sum
    // last-bit order dependence (the entropy/zipf precedent).
    Decl("q_llm_tempmix", (spark, dir) => {
      val n = Tables(spark, dir, "documents")
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val z = n.agg(sum(sqrt(col("n_docs"))).as("z"))
      n.crossJoin(broadcast(z))
        .select(col("source"), col("n_docs"),
          round(sqrt(col("n_docs")) / col("z"), 4).as("w"),
          floor(sqrt(col("n_docs")) / col("z") * 1000).as("docs_budget"))
        .orderBy(col("source").asc_nulls_first)
    }, Some(
      """WITH n AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
        |z AS (SELECT SUM(sqrt(n_docs)) AS z FROM n)
        |SELECT source, n_docs,
        |  ROUND(sqrt(n_docs) / z, 4) AS w,
        |  CAST(FLOOR(sqrt(n_docs) / z * 1000) AS BIGINT) AS docs_budget
        |FROM n, z ORDER BY source ASC NULLS FIRST""".stripMargin)),

    // Filter-calibration curve: before committing to a min-length
    // cutoff, sweep candidate thresholds and report what each keeps —
    // doc survival AND token survival per (source, threshold), in
    // integer basis points. One corpus scan reduces to a per-doc
    // token count; the 5-way threshold explode happens on that
    // reduced frame (5× doc-count rows, already past the text), then
    // one (source, threshold) rollup. The curve every length/quality
    // filter decision should be read off, as a relation.
    Decl("q_llm_filtercurve", (spark, dir) => {
      val perDoc = Tables(spark, dir, "documents")
        .select(col("source"), size(Text.words(lower(col("text")))).cast("long").as("nt"))
      perDoc
        .select(col("source"), col("nt"),
          explode(expr("array(16L, 32L, 64L, 128L, 256L)")).as("thr"))
        .groupBy(col("source"), col("thr"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("nt") >= col("thr"), 1L).otherwise(0L)).as("n_kept"),
          sum(col("nt")).as("tok_total"),
          sum(when(col("nt") >= col("thr"), col("nt")).otherwise(0L)).as("tok_kept"))
        .select(col("source"), col("thr"), col("n_kept"),
          expr("n_kept * 10000 div n_docs").as("doc_share_bp"),
          expr("tok_kept * 10000 div tok_total").as("tok_share_bp"))
        .orderBy(col("source").asc_nulls_first, col("thr").asc_nulls_first)
    }, Some(
      """WITH d AS (SELECT source,
        |    CAST(len(WORDS(lower(text))) AS BIGINT) AS nt
        |  FROM documents),
        |e AS (SELECT source, nt, unnest([16, 32, 64, 128, 256]) AS thr FROM d)
        |SELECT source, CAST(thr AS BIGINT) AS thr,
        |  CAST(SUM(CASE WHEN nt >= thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN nt >= thr THEN 1 ELSE 0 END) AS BIGINT) * 10000
        |    // COUNT(*) AS doc_share_bp,
        |  CAST(SUM(CASE WHEN nt >= thr THEN nt ELSE 0 END) AS BIGINT) * 10000
        |    // CAST(SUM(nt) AS BIGINT) AS tok_share_bp
        |FROM e GROUP BY source, thr
        |ORDER BY source ASC NULLS FIRST, thr ASC NULLS FIRST""".stripMargin)),

    // Curriculum staging: assign every document to one of 4 difficulty
    // stages by quartiles of a composite difficulty score (mean word
    // length — short-word docs first, the classic easy→hard ordering).
    // Scale shape: a GLOBAL ntile/percent_rank window would
    // single-partition the corpus; instead the three exact quartile
    // breakpoints are ONE aggregated row broadcast back, and the stage
    // is a codegen'd comparison — corpus scanned twice (once for
    // breakpoints, once to stage), zero wide shuffles on rows. The
    // exact-percentile interpolation matches DuckDB's QUANTILE_CONT
    // (the q_agg_percentile precedent); breakpoints round to 6dp
    // before comparison so both engines bucket identical doubles.
    Decl("q_llm_curriculum", (spark, dir) => {
      val ws = Text.words(lower(col("text")))
      val scored = Tables(spark, dir, "documents")
        .withColumn("wsc", ws)
        .filter(size(col("wsc")) > 0)
        .withColumn("difficulty", round(
          aggregate(col("wsc"), lit(0L), (a, x) => a + length(x)).cast("double") /
            size(col("wsc")), 6))
        .select(col("doc_id"), col("source"), col("difficulty"))
      val brk = scored.agg(
        round(expr("percentile(difficulty, 0.25)"), 6).as("q1"),
        round(expr("percentile(difficulty, 0.5)"), 6).as("q2"),
        round(expr("percentile(difficulty, 0.75)"), 6).as("q3"))
      scored.crossJoin(broadcast(brk))
        .withColumn("stage",
          when(col("difficulty") <= col("q1"), 1)
            .when(col("difficulty") <= col("q2"), 2)
            .when(col("difficulty") <= col("q3"), 3)
            .otherwise(4))
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n_docs"),
          round(min(col("difficulty")), 6).as("d_min"),
          round(max(col("difficulty")), 6).as("d_max"))
        .orderBy(col("stage").asc_nulls_first)
    }, Some(
      """WITH s AS (
        |  SELECT doc_id, source,
        |    ROUND(CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE)
        |      / len(ws), 6) AS difficulty
        |  FROM (SELECT doc_id, source,
        |          WORDS(lower(text)) AS ws
        |        FROM documents)
        |  WHERE len(ws) > 0),
        |b AS (SELECT ROUND(QUANTILE_CONT(difficulty, 0.25), 6) AS q1,
        |             ROUND(QUANTILE_CONT(difficulty, 0.5), 6) AS q2,
        |             ROUND(QUANTILE_CONT(difficulty, 0.75), 6) AS q3 FROM s)
        |SELECT CASE WHEN difficulty <= q1 THEN 1
        |            WHEN difficulty <= q2 THEN 2
        |            WHEN difficulty <= q3 THEN 3 ELSE 4 END AS stage,
        |  COUNT(*) AS n_docs,
        |  ROUND(MIN(difficulty), 6) AS d_min,
        |  ROUND(MAX(difficulty), 6) AS d_max
        |FROM s, b GROUP BY 1
        |ORDER BY stage ASC NULLS FIRST""".stripMargin)),

    // Per-source data card: the one-table summary a dataset release
    // ships — doc/token volume, language spread, mean length, and
    // exact-duplicate redundancy — in two keyed aggregations (the
    // dedup rate needs its own (source, hash) reduction; everything
    // else rides one source-keyed pass; the 20-row join broadcasts).
    Decl("q_llm_datacard", (spark, dir) => {
      val base = Tables(spark, dir, "documents")
        .select(col("source"), col("lang"),
          length(col("text")).as("nc"), size(Text.words(col("text"))).as("nw"),
          sha2(lower(trim(col("text"))).cast("binary"), 256).as("h"))
      val stats = base.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nw")).as("total_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          round(sum(col("nc")).cast("double") / count(lit(1)).cast("double"), 4)
            .as("avg_chars"))
      val dup = base.groupBy(col("source"), col("h"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("source"))
        .agg(sum(col("n") - 1).as("n_redundant"))
      stats.join(broadcast(dup), "source")
        .orderBy(col("source").asc_nulls_first)
    }, Some(
      """WITH base AS (
        |  SELECT source, lang, length(text) AS nc,
        |    len(WORDS(text)) AS nw,
        |    sha256(lower(trim(text))) AS h
        |  FROM documents),
        |stats AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(nw) AS BIGINT) AS total_tokens,
        |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |    ROUND(CAST(SUM(nc) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4) AS avg_chars
        |  FROM base GROUP BY source),
        |dup AS (
        |  SELECT source, CAST(SUM(n - 1) AS BIGINT) AS n_redundant
        |  FROM (SELECT source, h, COUNT(*) AS n FROM base GROUP BY source, h)
        |  GROUP BY source)
        |SELECT source, n_docs, total_tokens, n_langs, avg_chars, n_redundant
        |FROM stats JOIN dup USING (source)
        |ORDER BY source ASC NULLS FIRST""".stripMargin)),

    // Dataset version diff — the release-to-release audit: v2 drops
    // every 17th doc, rewrites every 13th, adds new ids for every
    // 29th. A full outer join on doc_id with content-hash comparison
    // classifies added / removed / changed / unchanged. One doc-keyed
    // shuffle per side; at 100 TB this is the standard
    // two-snapshot reconciliation (and the $changes changelog gives
    // the same answer without re-reading v1 when both live in the
    // catalog).
    Decl("q_llm_datasetdiff", (spark, dir) => {
      val v1 = Tables(spark, dir, "documents")
        .select(col("doc_id"), sha2(col("text"), 256).as("h1"))
      val base = Tables(spark, dir, "documents")
      val v2 = base.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          sha2(when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")), 256).as("h2"))
        .unionByName(base.filter(col("doc_id") % 29 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), sha2(col("text"), 256).as("h2")))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .select(when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") === col("h2"), "unchanged")
          .otherwise("changed").as("status"))
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
        .orderBy(col("status").asc_nulls_first)
    }, Some(
      """WITH v1 AS (SELECT doc_id, sha256(text) AS h1 FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    sha256(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END) AS h2
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, sha256(text) FROM documents WHERE doc_id % 29 = 0)
        |SELECT CASE WHEN h1 IS NULL THEN 'added'
        |            WHEN h2 IS NULL THEN 'removed'
        |            WHEN h1 = h2 THEN 'unchanged'
        |            ELSE 'changed' END AS status,
        |  COUNT(*) AS n
        |FROM v1 FULL OUTER JOIN v2 USING (doc_id)
        |GROUP BY 1
        |ORDER BY status ASC NULLS FIRST""".stripMargin)),

  )
}
