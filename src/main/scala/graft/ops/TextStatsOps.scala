package graft.ops

import graft.{Decl, Pack, Tables}
import graft.Dsl.d4
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text statistics and quality operators: word/token counts, n-grams,
  * vocabulary and document frequency, lexical diversity, Zipf fit,
  * entropies, BM25/TF-IDF, language ID, quality and repetition scores,
  * unigram-LM scoring, PII and toxicity flags, co-occurrence, KL
  * divergence, IDF novelty, length percentiles, BPE training and
  * fertility. Every narrow map is one codegen'd projection over
  * [[Text.words]]; every aggregation is doc- or token-keyed with
  * map-side partials — the shapes that stay one-shuffle at 100 TB.
  */
object TextStatsOps extends Pack {

  /** Split into Unicode CODEPOINTS — the unit DuckDB's length()/
    * substr() (and Spark SQL's length()) count. toCharArray would
    * split a non-BMP character (emoji, CJK extensions) into two lone
    * UTF-16 surrogates: the trainer's initial symbols, char totals,
    * and step-1 bigrams would all diverge from the SQL oracle on such
    * text. */
  private def codepoints(w: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.result()
  }

  /** Codepoint count of a (possibly multi-codepoint) symbol. */
  private def cpLen(sym: String): Long = sym.codePointCount(0, sym.length).toLong

  /** (word, freq) → symbol arrays; runs `maxMerges` greedy BPE merges.
    * Returns (merge table, final symbolized vocab). One distributed
    * job (the word-frequency aggregation, head-truncated
    * deterministically at `maxVocab` by (freq desc, word asc)); the
    * merge iterations are driver math over the collected vocab. */
  private[graft] def trainBpe(spark: SparkSession, dir: String, maxMerges: Int,
      maxVocab: Int = 1 << 22)
      : (Seq[(Int, String, String, Long)], Seq[(Long, Array[String])]) =
    trainBpeOn(Tables(spark, dir, "documents"), maxMerges, maxVocab)

  /** [[trainBpe]] over any (text) DataFrame — the same distributed
    * word-frequency scan + driver merge loop, input-parameterized so
    * the planted known-answer oracle exercises the identical code
    * path the corpus run uses. */
  private[graft] def trainBpeOn(input: DataFrame, maxMerges: Int,
      maxVocab: Int = 1 << 22)
      : (Seq[(Int, String, String, Long)], Seq[(Long, Array[String])]) = {
    val vocab = input
      .select(explode(Text.words(lower(col("text")))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word").asc)
      .limit(maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var syms: Array[(Long, Array[String])] =
      vocab.map { case (w, f) => (f, codepoints(w)) }

    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var done = false
    while (step <= maxMerges && !done) {
      // adjacent symbol pairs, weighted by word frequency (overlapping
      // pairs count — the classic formulation)
      val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      syms.foreach { case (f, s) =>
        var i = 0
        while (i < s.length - 1) {
          val k = (s(i), s(i + 1))
          cnt.update(k, cnt.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (cnt.isEmpty) done = true
      else {
        // argmax with the same total tie order as the former SQL
        // spelling: count desc, left asc, right asc
        val ((l, r), c) = cnt.minBy { case ((pl, pr), pc) => (-pc, pl, pr) }
        merges += ((step, l, r, c))
        // greedy leftmost non-overlapping merge of (l, r) per word
        val m = l + r
        syms = syms.map { case (f, s) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < s.length) {
            if (i < s.length - 1 && s(i) == l && s(i + 1) == r) { out += m; i += 2 }
            else { out += s(i); i += 1 }
          }
          (f, out.toArray)
        }
        step += 1
      }
    }
    (merges.toSeq, syms.toSeq)
  }

  def decls: Seq[Decl] = Seq(

    Decl("q_llm_textstats", (spark, dir) =>
      Tables(spark, dir, "documents")
        .withColumn("ws", Text.words(col("text")))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(col("ws"))).as("n_words"),
          d4(sum(length(col("text")).cast("decimal(18,6)")) / count(lit(1))).as("avg_chars"),
          sum(size(filter(col("ws"), w => w === "the" || w === "a"))).as("n_stopwords"),
          sum(when(col("n_chars") === length(col("text")), 1).otherwise(0)).as("n_chars_ok"))
        .orderBy(col("lang").asc_nulls_first),
      Some(
        """SELECT lang,
          |  COUNT(*) AS n_docs,
          |  CAST(SUM(len(WORDS(text))) AS BIGINT) AS n_words,
          |  D4(SUM(CAST(length(text) AS DECIMAL(18,6))) / COUNT(*)) AS avg_chars,
          |  CAST(SUM(len(list_filter(WORDS(text), w -> w = 'the' OR w = 'a'))) AS BIGINT) AS n_stopwords,
          |  CAST(SUM(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_ok
          |FROM documents
          |GROUP BY lang
          |ORDER BY lang ASC NULLS FIRST""".stripMargin)),

    Decl("q_llm_ngram", (spark, dir) =>
      Tables(spark, dir, "documents")
        .withColumn("ws", Text.words(col("text")))
        .withColumn("bigram", explode(when(size(col("ws")) >= 2, Text.grams(col("ws"), 2))
          .otherwise(array())))
        .groupBy(col("lang"), col("bigram"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 20)
        .orderBy(col("lang").asc_nulls_first, col("bigram").asc_nulls_first,
          col("n").asc_nulls_first),
      Some(
        """SELECT lang, bigram, COUNT(*) AS n FROM (
          |  SELECT lang,
          |    unnest(list_transform(generate_series(1, len(ws) - 1),
          |      i -> ws[i] || ' ' || ws[i + 1])) AS bigram
          |  FROM (SELECT lang, WORDS(text) AS ws
          |        FROM documents))
          |GROUP BY lang, bigram HAVING COUNT(*) >= 20
          |ORDER BY lang ASC NULLS FIRST, bigram ASC NULLS FIRST, n ASC NULLS FIRST""".stripMargin)),

    // n-gram/stopword heuristic language ID. (The corpus labels are
    // synthetic, so the heuristic's value is its determinism — the
    // oracle re-states the identical decision function.)
    Decl("q_llm_langid", (spark, dir) =>
      Tables(spark, dir, "documents")
        .withColumn("ws", Text.words(lower(col("text"))))
        .withColumn("stop_ratio",
          size(filter(col("ws"), w => w.isin("the", "a", "of", "and"))).cast("double") /
            size(col("ws")))
        .withColumn("avg_wlen", length(col("text")).cast("double") / size(col("ws")))
        .withColumn("pred",
          when(col("stop_ratio") >= 0.08, "en")
            .when(col("avg_wlen") >= 5.8, "de")
            .when(col("stop_ratio") >= 0.04, "es")
            .otherwise("zz"))
        .groupBy(col("pred"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("stop_ratio")), 4).cast("decimal(18,4)").cast("double").as("avg_stop_ratio"))
        .orderBy(col("pred").asc_nulls_first),
      Some(
        """SELECT pred, COUNT(*) AS n_docs,
          |  D4(AVG(stop_ratio)) AS avg_stop_ratio
          |FROM (
          |  SELECT
          |    CASE WHEN stop_ratio >= 0.08 THEN 'en'
          |         WHEN avg_wlen >= 5.8 THEN 'de'
          |         WHEN stop_ratio >= 0.04 THEN 'es'
          |         ELSE 'zz' END AS pred, stop_ratio
          |  FROM (
          |    SELECT
          |      CAST(len(list_filter(ws, w -> w IN ('the','a','of','and'))) AS DOUBLE)
          |        / len(ws) AS stop_ratio,
          |      CAST(length(text) AS DOUBLE) / len(ws) AS avg_wlen
          |    FROM (SELECT text, WORDS(lower(text)) AS ws
          |          FROM documents)))
          |GROUP BY pred
          |ORDER BY pred ASC NULLS FIRST""".stripMargin)),

    // Quality scoring: length + stopword-density blend, banded.
    Decl("q_llm_quality", (spark, dir) =>
      Tables(spark, dir, "documents")
        .withColumn("ws", Text.words(lower(col("text"))))
        .withColumn("n_words", size(col("ws")))
        .withColumn("stop_ratio",
          size(filter(col("ws"), w => w.isin("the", "a", "of", "and"))).cast("double") /
            col("n_words"))
        .withColumn("score", round(
          least(col("n_words") / 200.0, lit(1.0)) * 0.5 +
            least(col("stop_ratio") * 12.5, lit(1.0)) * 0.5, 6))
        .withColumn("band",
          when(col("score") >= 0.8, "high").when(col("score") >= 0.5, "mid").otherwise("low"))
        .select(col("doc_id"), col("n_words"), col("score"), col("band"))
        .orderBy(col("doc_id").asc_nulls_first, col("n_words").asc_nulls_first,
          col("score").asc_nulls_first, col("band").asc_nulls_first),
      Some(
        """SELECT doc_id, n_words,
          |  ROUND(LEAST(n_words / 200.0, 1.0) * 0.5
          |      + LEAST(stop_ratio * 12.5, 1.0) * 0.5, 6) AS score,
          |  CASE WHEN ROUND(LEAST(n_words / 200.0, 1.0) * 0.5
          |      + LEAST(stop_ratio * 12.5, 1.0) * 0.5, 6) >= 0.8 THEN 'high'
          |       WHEN ROUND(LEAST(n_words / 200.0, 1.0) * 0.5
          |      + LEAST(stop_ratio * 12.5, 1.0) * 0.5, 6) >= 0.5 THEN 'mid'
          |       ELSE 'low' END AS band
          |FROM (
          |  SELECT doc_id, len(ws) AS n_words,
          |    CAST(len(list_filter(ws, w -> w IN ('the','a','of','and'))) AS DOUBLE)
          |      / len(ws) AS stop_ratio
          |  FROM (SELECT doc_id, text, WORDS(lower(text)) AS ws
          |        FROM documents))
          |ORDER BY doc_id ASC NULLS FIRST, n_words ASC NULLS FIRST,
          |  score ASC NULLS FIRST, band ASC NULLS FIRST""".stripMargin)),

    // Token counting: whitespace tokens, a BPE-ish regex tokenizer,
    // and the chars/4 heuristic.
    Decl("q_llm_tokens", (spark, dir) =>
      Tables(spark, dir, "documents")
        .select(
          col("doc_id"),
          size(Text.words(col("text"))).as("n_ws_tokens"),
          size(regexp_extract_all(col("text"),
            lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("n_re_tokens"),
          expr("(length(text) + 3) div 4").as("est_tokens"))
        .orderBy(col("doc_id").asc_nulls_first, col("n_ws_tokens").asc_nulls_first),
      Some(
        """SELECT doc_id,
          |  len(WORDS(text)) AS n_ws_tokens,
          |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_re_tokens,
          |  (length(text) + 3) // 4 AS est_tokens
          |FROM documents
          |ORDER BY doc_id ASC NULLS FIRST, n_ws_tokens ASC NULLS FIRST""".stripMargin)),

    // Vocabulary document-frequency: distinct tokens per doc exploded
    // once, then a token-keyed count — the tokenizer-vocab / stopword-
    // discovery pass. Two narrow shuffles (explode is map-side); at
    // 100 TB the token key space is Zipf but count-agg partials absorb
    // the head before the shuffle.
    Decl("q_llm_vocab_df", (spark, dir) =>
      Tables(spark, dir, "documents")
        .select(explode(array_distinct(Text.words(col("text")))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc_nulls_last, col("token").asc_nulls_first)
        .limit(40),
      Some(
        """SELECT token, COUNT(*) AS df FROM (
          |  SELECT unnest(list_distinct(WORDS(text))) AS token
          |  FROM documents)
          |GROUP BY token
          |ORDER BY df DESC NULLS LAST, token ASC NULLS FIRST
          |LIMIT 40""".stripMargin)),

    // Type-token ratio (lexical diversity): low-TTR docs are
    // repetitive boilerplate — a standard quality gate next to
    // q_llm_repetition's n-gram view. Single codegen'd projection.
    Decl("q_llm_ttr", (spark, dir) => {
      val toks = Text.words(col("text"))
      Tables(spark, dir, "documents")
        .select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_distinct"))
        .withColumn("ttr",
          round((col("n_distinct").cast("decimal(18,6)") /
            col("n_tokens").cast("decimal(9,3)")), 4)
            .cast("decimal(18,4)").cast("double"))
        .filter(col("doc_id") < 500)
        .orderBy(col("doc_id").asc_nulls_first)
    }, Some(
      """SELECT doc_id,
        |  len(WORDS(text)) AS n_tokens,
        |  len(list_distinct(WORDS(text))) AS n_distinct,
        |  D4(CAST(len(list_distinct(WORDS(text))) AS DECIMAL(18,6))
        |    / CAST(len(WORDS(text)) AS DECIMAL(9,3))) AS ttr
        |FROM documents WHERE doc_id < 500
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

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
      val ws = Text.words(lower(col("text")))
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
      """WITH w AS (SELECT unnest(WORDS(lower(text))) AS w
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

    // Word-entropy quality score: Shannon entropy of each doc's word
    // distribution, the "is this text degenerate?" filter (spam and
    // keyword-stuffed pages score low, natural prose high). Identity
    // used: H = log2(n) - sum(c*log2(c))/n, so the aggregate needs
    // only per-(doc,word) counts — a two-level agg whose shuffles both
    // carry per-doc VOCABULARY rows, never the raw token stream
    // (map-side partial combine collapses within-doc repeats before
    // the first exchange), no window, no join. Scales to any corpus:
    // state per task is bounded by the doc's vocabulary, never the
    // corpus's. Rounded to 4dp so the double-sum order can't flake
    // the cross-engine hash.
    Decl("q_llm_entropy", (spark, dir) => {
      val ws = Text.words(lower(col("text")))
      Tables(spark, dir, "documents")
        .select(col("doc_id"), explode(ws).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_words"),
          count(lit(1)).as("n_vocab"),
          round(
            log2(sum(col("c")).cast("double")) -
              sum(col("c").cast("double") * log2(col("c").cast("double"))) /
                sum(col("c")).cast("double"),
            4).as("entropy"))
        .orderBy(col("doc_id").asc_nulls_first)
    }, Some(
      """WITH w AS (SELECT doc_id,
        |            unnest(WORDS(lower(text))) AS w
        |          FROM documents),
        |c AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w)
        |SELECT doc_id,
        |  CAST(SUM(c) AS BIGINT) AS n_words,
        |  CAST(COUNT(*) AS BIGINT) AS n_vocab,
        |  ROUND(log2(CAST(SUM(c) AS DOUBLE))
        |        - SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
        |          / CAST(SUM(c) AS DOUBLE), 4) AS entropy
        |FROM c GROUP BY doc_id
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // Conditional bigram entropy H(w₂|w₁) per source: how predictable
    // the next word is given the current one — degenerate/templated
    // text scores near zero, natural prose high; the
    // information-theoretic sibling of q_llm_repetition's gate.
    // Per-(w₁,w₂) counts are one corpus shuffle; the w₁ marginal is a
    // window over the already-reduced bigram-type frame (partitions
    // bounded by each word's successor vocabulary); per-type terms
    // are truncated to DECIMAL(18,6) BEFORE summing (the bm25
    // precedent) so the final sum is exact and partition-order-free.
    Decl("q_llm_condentropy", (spark, dir) => {
      val ws = Text.words(lower(col("text")))
      val bi = Tables(spark, dir, "documents")
        .withColumn("ws", ws)
        .filter(size(col("ws")) >= 2)
        .select(col("source"), explode(expr(
          "transform(sequence(1, size(ws)-1), i -> struct(ws[i-1] AS w1, ws[i] AS w2))")).as("b"))
        .select(col("source"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val w1win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"), col("w1"))
      bi.groupBy(col("source"), col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
        .withColumn("c1", sum(col("c12")).over(w1win))
        .withColumn("term",
          (col("c12").cast("double") *
            log2(col("c1").cast("double") / col("c12").cast("double")))
            .cast("decimal(18,6)"))
        .groupBy(col("source"))
        .agg(sum(col("c12")).as("n_bigrams"),
          count(lit(1)).as("n_types"),
          round(sum(col("term")).cast("double") / sum(col("c12")).cast("double"), 4)
            .as("cond_entropy"))
        .orderBy(col("source").asc_nulls_first)
    }, Some(
      """WITH t AS (SELECT source,
        |    WORDS(lower(text)) AS ws
        |  FROM documents),
        |b AS (SELECT source,
        |    unnest(list_transform(range(2, len(ws) + 1),
        |      i -> struct_pack(w1 := ws[i-1], w2 := ws[i]))) AS b
        |  FROM t WHERE len(ws) >= 2),
        |c AS (SELECT source, b.w1 AS w1, b.w2 AS w2, COUNT(*) AS c12
        |      FROM b GROUP BY 1, 2, 3),
        |m AS (SELECT source, w1, w2, c12,
        |        SUM(c12) OVER (PARTITION BY source, w1) AS c1 FROM c)
        |SELECT source,
        |  CAST(SUM(c12) AS BIGINT) AS n_bigrams,
        |  COUNT(*) AS n_types,
        |  ROUND(CAST(SUM(CAST(CAST(c12 AS DOUBLE) *
        |      log2(CAST(c1 AS DOUBLE) / CAST(c12 AS DOUBLE)) AS DECIMAL(18,6)))
        |    AS DOUBLE) / CAST(SUM(c12) AS DOUBLE), 4) AS cond_entropy
        |FROM m GROUP BY source
        |ORDER BY source ASC NULLS FIRST""".stripMargin)),

    // BM25 retrieval: score every doc against a fixed keyword query
    // and return the top 20 — the lexical-search half of a hybrid
    // (BM25 + embedding) corpus-mining pipeline. Plan shape: one
    // corpus scan explodes tokens; per-(doc,term) tf is a doc-keyed
    // agg; df and avgdl are TINY aggregates (|query terms| rows and 1
    // row) broadcast back — so the only corpus-sized shuffle is the
    // doc-keyed tf agg. Per-term partials are cast to DECIMAL(18,6)
    // BEFORE the final sum so addition is exact and order-free in
    // both engines; ln() inputs are integer-derived, hence
    // bit-identical. k1=1.2, b=0.75 (the standard Robertson params).
    Decl("q_llm_bm25", (spark, dir) => {
      val terms = Seq("vector", "spark", "hash")
      val ws = Text.words(lower(col("text")))
      val docs = Tables(spark, dir, "documents")
        .select(col("doc_id"), explode(ws).as("w"))
      val dl = docs.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val n = dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
      val tf = docs.filter(col("w").isin(terms: _*))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val idf = log((lit(1.0) +
        (col("n").cast("double") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      val partial = (idf * (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .cast("decimal(18,6)")
      tf.join(broadcast(df), "w")
        .join(dl, "doc_id")
        .crossJoin(broadcast(n))
        .groupBy(col("doc_id"))
        .agg(sum(partial).cast("double").as("score"),
          count(lit(1)).as("n_terms"))
        .orderBy(col("score").desc_nulls_last, col("doc_id").asc_nulls_first)
        .limit(20)
    }, Some(
      """WITH w AS (SELECT doc_id,
        |            unnest(WORDS(lower(text))) AS w
        |          FROM documents),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM w GROUP BY doc_id),
        |n AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM w
        |       WHERE w IN ('vector', 'spark', 'hash') GROUP BY doc_id, w),
        |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w)
        |SELECT doc_id,
        |  CAST(SUM(CAST(ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))
        |        * (tf * 2.2)
        |        / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |      AS DECIMAL(18,6))) AS DOUBLE) AS score,
        |  CAST(COUNT(*) AS BIGINT) AS n_terms
        |FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN n
        |GROUP BY doc_id
        |ORDER BY score DESC NULLS LAST, doc_id ASC NULLS FIRST
        |LIMIT 20""".stripMargin)),

    // TF-IDF document scoring: the vector-space sibling of q_llm_bm25
    // (same plan skeleton: corpus-sized work is ONE doc-keyed tf agg;
    // df is a |vocab∩query|-row aggregate broadcast back). Scores are
    // ln(1+tf) * ln(N/df) summed over the query terms, the classic
    // lnc.ltc-ish weighting; per-term partials go through
    // DECIMAL(18,6) so the cross-engine sum is exact and order-free.
    // With an embedding ANN (q_llm_simsearch*) and BM25 this completes
    // the hybrid-retrieval triad used to mine domain corpora.
    Decl("q_llm_tfidf", (spark, dir) => {
      val terms = Seq("vector", "stream", "merge")
      val ws = Text.words(lower(col("text")))
      val docs = Tables(spark, dir, "documents")
        .select(col("doc_id"), explode(ws).as("w"))
      val n = Tables(spark, dir, "documents").agg(count(lit(1)).as("n"))
      val tf = docs.filter(col("w").isin(terms: _*))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val partial = (log(lit(1.0) + col("tf").cast("double")) *
        log(col("n").cast("double") / col("df").cast("double")))
        .cast("decimal(18,6)")
      tf.join(broadcast(df), "w").crossJoin(broadcast(n))
        .groupBy(col("doc_id"))
        .agg(sum(partial).cast("double").as("score"),
          count(lit(1)).as("n_terms"))
        .orderBy(col("score").desc_nulls_last, col("doc_id").asc_nulls_first)
        .limit(20)
    }, Some(
      """WITH w AS (SELECT doc_id,
        |            unnest(WORDS(lower(text))) AS w
        |          FROM documents),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM w
        |       WHERE w IN ('vector', 'stream', 'merge') GROUP BY doc_id, w),
        |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w)
        |SELECT doc_id,
        |  CAST(SUM(CAST(ln(1.0 + CAST(tf AS DOUBLE))
        |        * ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE))
        |      AS DECIMAL(18,6))) AS DOUBLE) AS score,
        |  CAST(COUNT(*) AS BIGINT) AS n_terms
        |FROM tf JOIN df USING (w) CROSS JOIN n
        |GROUP BY doc_id
        |ORDER BY score DESC NULLS LAST, doc_id ASC NULLS FIRST
        |LIMIT 20""".stripMargin)),

    // Repetition-based quality scoring (the Gopher/C4-style signal):
    // per doc, the share of all word-bigrams taken by the single most
    // frequent one — boilerplate and degenerate generations spike it.
    // Two-level agg ((doc, gram) then doc): both shuffles key on the
    // doc id so the second is map-side-combinable; nothing is ever
    // global, which is what lets it sweep a 100 TB corpus.
    Decl("q_llm_repetition", (spark, dir) => {
      val ws = Text.words(lower(col("text")))
      Tables(spark, dir, "documents")
        .withColumn("ws", ws)
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"),
          explode(Text.grams(col("ws"), 2)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_c"))
        .withColumn("top_share",
          round(col("top_c").cast("double") / col("n_bigrams"), 6))
        .withColumn("repetitive",
          col("top_c").cast("double") / col("n_bigrams") >= 0.1)
        .select(col("doc_id"), col("n_bigrams"), col("top_c"),
          col("top_share"), col("repetitive"))
        .orderBy(col("doc_id").asc_nulls_first)
    }, Some(
      """WITH w AS (SELECT doc_id,
        |            WORDS(lower(text)) AS ws
        |          FROM documents),
        |g AS (SELECT doc_id,
        |        unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS g
        |      FROM w WHERE len(ws) >= 2),
        |c AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY doc_id, g)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
        |  CAST(MAX(c) AS BIGINT) AS top_c,
        |  ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_share,
        |  (CAST(MAX(c) AS DOUBLE) / SUM(c)) >= 0.1 AS repetitive
        |FROM c GROUP BY doc_id
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // Unigram-LM quality score (the cheap perplexity proxy): score
    // each doc by the mean log corpus-frequency of its words — word
    // salad and OCR garbage sink, common prose floats. Frequency table
    // is vocabulary-sized (≪ corpus at any scale); the per-word join
    // is word-keyed and the doc agg doc-keyed. Rounded to 4dp so the
    // double sum order can't flake the hash.
    Decl("q_llm_lmscore", (spark, dir) => {
      val ws = Text.words(lower(col("text")))
      val words = Tables(spark, dir, "documents")
        .select(col("doc_id"), explode(ws).as("w"))
      val freq = words.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val tot = words.agg(count(lit(1)).as("total"))
      words.join(freq, "w").crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          round(avg(log(col("c").cast("double") / col("total"))), 4).as("lm_score"))
        .orderBy(col("doc_id").asc_nulls_first)
    }, Some(
      """WITH w AS (SELECT doc_id,
        |            unnest(WORDS(lower(text))) AS w
        |          FROM documents),
        |f AS (SELECT w, COUNT(*) AS c FROM w GROUP BY w),
        |t AS (SELECT COUNT(*) AS total FROM w)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        |  ROUND(AVG(ln(CAST(c AS DOUBLE) / total)), 4) AS lm_score
        |FROM w JOIN f USING (w) CROSS JOIN t
        |GROUP BY doc_id
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // PII scrubbing: regex masking of emails and IPv4 addresses with
    // per-doc match counts. The fixture corpus is synthetic, so the
    // PII is planted deterministically first (same expression in the
    // oracle); the scrub itself is the production shape — chained
    // regexp_replace in one narrow pass, counts from
    // regexp_extract_all BEFORE masking.
    Decl("q_llm_pii", (spark, dir) => {
      val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-z]{2,}"
      val ipRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
      Tables(spark, dir, "documents")
        .withColumn("planted", concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            concat(lit(" from 10.0."), expr("(doc_id div 256) % 256"), lit("."),
              col("doc_id") % 256)).otherwise(lit(""))))
        .select(col("doc_id"),
          size(regexp_extract_all(col("planted"), lit(emailRe), lit(0))).cast("long").as("n_emails"),
          size(regexp_extract_all(col("planted"), lit(ipRe), lit(0))).cast("long").as("n_ips"),
          regexp_replace(regexp_replace(col("planted"), emailRe, "<EMAIL>"),
            ipRe, "<IP>").as("scrubbed"))
        .orderBy(col("doc_id").asc_nulls_first, col("n_emails").asc_nulls_first)
    }, Some(
      """WITH p AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 3 = 0
        |            THEN ' contact user' || doc_id || '@example.com' ELSE '' END
        |    || CASE WHEN doc_id % 4 = 0
        |            THEN ' from 10.0.' || (doc_id // 256) % 256 || '.' || doc_id % 256
        |            ELSE '' END AS planted
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(planted, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(planted, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips,
        |  regexp_replace(regexp_replace(planted,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS scrubbed
        |FROM p
        |ORDER BY doc_id ASC NULLS FIRST, n_emails ASC NULLS FIRST""".stripMargin)),

    // Lexicon blocklist scoring: count blocked-term hits per doc with
    // array HOFs (whole-stage codegen, zero shuffles until the final
    // per-source rollup), flag docs whose blocked share crosses 4%.
    // The placeholder 3-word lexicon stands in for a real blocklist —
    // the mechanism (HOF count + integer-exact threshold) is the op.
    // Determinism: the flag compares n_blocked*25 >= n_words in
    // integers, so no engine ever divides.
    Decl("q_llm_toxicity", (spark, dir) => {
      val toks = Text.words(lower(col("text")))
      val blocked = filter(toks,
        w => w === "slow" || w === "dup" || w === "big")
      Tables(spark, dir, "documents")
        .select(col("source"),
          size(toks).as("n_words"), size(blocked).as("n_blocked"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_blocked") * 25 >= col("n_words") &&
            col("n_words") > 0, 1L).otherwise(0L)).as("n_flagged"),
          sum(col("n_blocked").cast("long")).as("sum_blocked"),
          sum(col("n_words").cast("long")).as("sum_words"))
        .orderBy(col("source").asc_nulls_first)
    }, Some(
      """WITH w AS (SELECT source,
        |    WORDS(lower(text)) AS toks
        |  FROM documents),
        |c AS (SELECT source, len(toks) AS n_words,
        |    len(list_filter(toks,
        |      x -> list_contains(['slow', 'dup', 'big'], x))) AS n_blocked
        |  FROM w)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN n_blocked * 25 >= n_words AND n_words > 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(SUM(n_blocked) AS BIGINT) AS sum_blocked,
        |  CAST(SUM(n_words) AS BIGINT) AS sum_words
        |FROM c GROUP BY source
        |ORDER BY source ASC NULLS FIRST""".stripMargin)),

    // Co-occurrence PMI over a df-bounded vocabulary: collocation
    // mining, the classic "which word pairs travel together" corpus
    // probe. Scale shape: vocabulary is capped at the top-100 words by
    // document frequency (driver-bounded, broadcast), so per-doc pair
    // generation is <= |V|^2/2 regardless of corpus size and the pair
    // aggregation shuffles at most |V|^2/2 keys. PMI's log runs on
    // identically-shaped double expressions in both engines and is
    // rounded to 4dp (the q_llm_entropy/q_llm_zipf precedent).
    Decl("q_llm_cooccur", (spark, dir) => {
      val docs = Tables(spark, dir, "documents")
      val dw = docs
        .select(col("doc_id"), explode(array_distinct(Text.words(lower(col("text"))))).as("w"))
      val dfreq = dw.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val vocab = dfreq.orderBy(col("df").desc, col("w").asc).limit(100)
      val dv = dw.join(broadcast(vocab), "w")
      val n = docs.agg(count(lit(1)).as("n_total"))
      val pairs = dv.as("x").join(dv.as("y"),
          col("x.doc_id") === col("y.doc_id") && col("x.w") < col("y.w"))
        .groupBy(col("x.w").as("w1"), col("y.w").as("w2"))
        .agg(count(lit(1)).as("n_ab"),
          first(col("x.df")).as("df1"), first(col("y.df")).as("df2"))
      pairs.crossJoin(broadcast(n))
        .withColumn("pmi", round(
          log(col("n_ab").cast("double") * col("n_total") /
            (col("df1").cast("double") * col("df2"))), 4))
        .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
        .limit(20)
        .select(col("w1"), col("w2"), col("n_ab"), col("pmi"))
    }, Some(
      """WITH d AS (SELECT doc_id,
        |    list_distinct(WORDS(lower(text))) AS ws
        |  FROM documents),
        |dw AS (SELECT doc_id, unnest(ws) AS w FROM d),
        |dfreq AS (SELECT w, COUNT(*) AS df FROM dw GROUP BY w),
        |vocab AS (SELECT w, df FROM dfreq ORDER BY df DESC, w ASC LIMIT 100),
        |dv AS (SELECT dw.doc_id, dw.w, vocab.df
        |  FROM dw JOIN vocab USING (w)),
        |n AS (SELECT COUNT(*) AS n_total FROM documents),
        |p AS (SELECT x.w AS w1, y.w AS w2, COUNT(*) AS n_ab,
        |    MIN(x.df) AS df1, MIN(y.df) AS df2
        |  FROM dv x JOIN dv y ON x.doc_id = y.doc_id AND x.w < y.w
        |  GROUP BY 1, 2)
        |SELECT w1, w2, n_ab,
        |  ROUND(ln(CAST(n_ab AS DOUBLE) * n.n_total /
        |    (CAST(df1 AS DOUBLE) * df2)), 4) AS pmi
        |FROM p, n
        |ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 20""".stripMargin)),

    // Per-source KL divergence vs the corpus word distribution:
    // KL(p_source || p_corpus) = sum_w p(w|s) ln(p(w|s)/p(w)) — the
    // standard domain-drift / outlier-source probe (a source whose
    // words diverge from the mix is a contamination or scrape-error
    // candidate). Scale shape: one explode feeding two keyed
    // aggregations; the (source,word)-to-word join is vocabulary-keyed
    // (data-bounded cardinality, hash-shuffle-safe at any corpus
    // size); only the two scalar totals broadcast. KL >= 0 by Gibbs'
    // inequality — the spec pins it.
    Decl("q_llm_kldiv", (spark, dir) => {
      val dw = Tables(spark, dir, "documents")
        .select(col("source"), explode(Text.words(lower(col("text")))).as("w"))
      val sw = dw.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c_sw"))
      val sTot = sw.groupBy(col("source")).agg(sum(col("c_sw")).as("n_s"))
      val cw = dw.groupBy(col("w")).agg(count(lit(1)).as("c_w"))
      val cTot = cw.agg(sum(col("c_w")).as("n_tot"))
      sw.join(sTot, "source").join(cw, "w").crossJoin(broadcast(cTot))
        .withColumn("term",
          (col("c_sw") / col("n_s")) *
            log((col("c_sw").cast("double") * col("n_tot")) /
              (col("n_s").cast("double") * col("c_w"))))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_distinct_words"),
          round(sum(col("term")), 4).as("kl"))
        .orderBy(col("source").asc_nulls_first)
    }, Some(
      """WITH dw AS (SELECT source, unnest(WORDS(lower(text))) AS w
        |  FROM documents),
        |sw AS (SELECT source, w, COUNT(*) AS c_sw FROM dw GROUP BY 1, 2),
        |st AS (SELECT source, SUM(c_sw) AS n_s FROM sw GROUP BY 1),
        |cw AS (SELECT w, COUNT(*) AS c_w FROM dw GROUP BY 1),
        |ct AS (SELECT SUM(c_w) AS n_tot FROM cw)
        |SELECT sw.source, COUNT(*) AS n_distinct_words,
        |  ROUND(SUM((c_sw / n_s) *
        |    ln((CAST(c_sw AS DOUBLE) * n_tot) /
        |       (CAST(n_s AS DOUBLE) * c_w))), 4) AS kl
        |FROM sw JOIN st ON sw.source = st.source
        |  JOIN cw ON sw.w = cw.w CROSS JOIN ct
        |GROUP BY sw.source
        |ORDER BY sw.source ASC NULLS FIRST""".stripMargin)),

    // Per-doc mean-IDF novelty: average ln(N/df) over the doc's
    // distinct words — high = rare vocabulary (specialist or noise),
    // low = stopword soup; the dual of the common-word quality ratio
    // and the doc-level aggregate of TF-IDF's IDF half. Scale shape:
    // one distinct-word explode, a vocabulary-keyed join to the
    // document-frequency table (data-bounded, shuffles fine), one
    // doc-keyed aggregation — the corpus is read once.
    Decl("q_llm_idfnovelty", (spark, dir) => {
      val docs = Tables(spark, dir, "documents")
      val dw = docs
        .select(col("doc_id"), explode(array_distinct(Text.words(lower(col("text"))))).as("w"))
      val dfreq = dw.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      dw.join(dfreq, "w").crossJoin(broadcast(n))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_distinct"),
          round(avg(log(col("n_docs").cast("double") / col("df"))), 4)
            .as("novelty"))
        .orderBy(col("doc_id").asc_nulls_first)
    }, Some(
      """WITH dw AS (SELECT doc_id, unnest(list_distinct(WORDS(lower(text)))) AS w
        |  FROM documents),
        |dfreq AS (SELECT w, COUNT(*) AS df FROM dw GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT doc_id, COUNT(*) AS n_distinct,
        |  ROUND(AVG(ln(CAST(n_docs AS DOUBLE) / df)), 4) AS novelty
        |FROM dw JOIN dfreq ON dw.w = dfreq.w CROSS JOIN n
        |GROUP BY doc_id
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // Per-source token-length percentiles: the distribution summary a
    // corpus card reports (and packing/chunking parameters are sized
    // from). Exact interpolated percentiles over per-doc token counts
    // — per-doc reduction first, so the percentile state is doc-count
    // not token-count; one keyed aggregation.
    Decl("q_llm_lenpct", (spark, dir) =>
      Tables(spark, dir, "documents")
        .select(col("source"), size(Text.words(lower(col("text")))).cast("double").as("nt"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          d4(round(expr("percentile(nt, 0.5)"), 4)).as("p50"),
          d4(round(expr("percentile(nt, 0.9)"), 4)).as("p90"),
          d4(round(expr("percentile(nt, 0.99)"), 4)).as("p99"),
          max(col("nt").cast("long")).as("nt_max"))
        .orderBy(col("source").asc_nulls_first),
      Some(
        """SELECT source, COUNT(*) AS n_docs,
          |  D4(QUANTILE_CONT(nt, 0.5)) AS p50,
          |  D4(QUANTILE_CONT(nt, 0.9)) AS p90,
          |  D4(QUANTILE_CONT(nt, 0.99)) AS p99,
          |  CAST(MAX(nt) AS BIGINT) AS nt_max
          |FROM (SELECT source,
          |    CAST(len(WORDS(lower(text))) AS DOUBLE) AS nt FROM documents)
          |GROUP BY source
          |ORDER BY source ASC NULLS FIRST""".stripMargin)),

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
      val toks = Text.words(col("text"))
      val g = Tables(spark, dir, "documents")
        .withColumn("toks", toks)
        .filter(size(col("toks")) >= 8)
        .select(col("doc_id"),
          explode(Text.grams(col("toks"), 8)).as("gm"))
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
        |            WORDS(text) AS toks
        |          FROM documents),
        |g AS (SELECT doc_id,
        |        unnest(GRAMS(toks, 8)) AS gm
        |      FROM w WHERE len(toks) >= 8),
        |d AS (SELECT gm, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY gm)
        |SELECT g.doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN d.df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |  D4(CAST(SUM(CASE WHEN d.df >= 3 THEN 1 ELSE 0 END) AS DECIMAL(18,6))
        |    / CAST(COUNT(*) AS DECIMAL(9,3))) AS boiler_share
        |FROM g JOIN d USING (gm)
        |GROUP BY g.doc_id
        |ORDER BY doc_id ASC NULLS FIRST""".stripMargin)),

    // BPE merge training, contract-oracled (the q_llm_mmr / hash
    // known-answer pattern — counts are integer-exact and ties break
    // on (count desc, left asc, right asc), but 10 data-dependent
    // iterations aren't one SQL statement, so the declared query
    // emits what DuckDB CAN independently derive, two parts:
    //  - 'planted': the full 10-step merge table of a 32×"abcdefghijk"
    //    known-answer corpus run through the IDENTICAL trainer code
    //    path. Every adjacent pair counts exactly 32 at every step, so
    //    the tie order always picks the 'a'-prefixed pair: step s
    //    merges (first-s-chars, char s+1) with count 32 — a table
    //    derivable by hand and hardcoded as oracle VALUES. A trainer
    //    bug in counting, tie-breaking, or the leftmost merge rewrites
    //    this table.
    //  - 'corpus': the documents-table run (kept so the bench still
    //    measures the corpus-scale scan). Step 1 operates on raw
    //    characters, so DuckDB recomputes its (lhs, rhs, pair_count)
    //    argmax EXACTLY from weighted char bigrams; steps 2+ emit NULL
    //    symbols plus two measured theorem booleans: `mono_ok` (greedy
    //    BPE's picked count is non-increasing — merging only removes
    //    adjacencies and a created pair's count is bounded by the pair
    //    just merged) and `wf_ok` (every side is a single char or the
    //    concatenation of an earlier step's merge).
    // Full corpus ranks 2-10 stay pinned by Llm9Spec's hand-computed
    // merge sequences.
    Decl("q_llm_bpe", (spark, dir) => {
      import spark.implicits._
      def contract(ms: Seq[(Int, String, String, Long)], part: String,
          pinAll: Boolean) =
        ms.map { case (s, l, r, c) =>
          val pin = pinAll || s == 1
          val monoOk = s == 1 || ms.find(_._1 == s - 1).exists(_._4 >= c)
          val wfOk =
            (cpLen(l) == 1 || ms.exists(m => m._1 < s && m._2 + m._3 == l)) &&
            (cpLen(r) == 1 || ms.exists(m => m._1 < s && m._2 + m._3 == r))
          (part, s, if (pin) Some(l) else None, if (pin) Some(r) else None,
            if (pin) Some(c) else None, monoOk, wfOk)
        }
      val corpus0 = contract(trainBpe(spark, dir, 10)._1, "corpus", pinAll = false)
      // training can exhaust its pairs before 10 merges on degenerate
      // corpora while the oracle emits exactly 10 corpus rows whenever
      // ANY merge exists (generate_series × top1) — pad unreached
      // steps with the same NULL-symbol shape (vacuously-true
      // booleans: no merge happened at that step)
      val corpus = if (corpus0.isEmpty) corpus0 else corpus0 ++
        ((corpus0.size + 1) to 10).map(s =>
          ("corpus", s, None: Option[String], None: Option[String],
            None: Option[Long], true, true))
      val planted = contract(trainBpeOn(
        spark.range(0, 32, 1, 1).select(lit("abcdefghijk").as("text")), 10)._1,
        "planted", pinAll = true)
      (planted ++ corpus)
        .toDF("part", "step", "lhs", "rhs", "pair_count", "mono_ok", "wf_ok")
        .orderBy(col("part").asc_nulls_first, col("step").asc_nulls_first)
    }, Some(
      """WITH w AS (
        |  SELECT word, COUNT(*) AS freq
        |  FROM (SELECT unnest(WORDS(lower(text))) AS word FROM documents)
        |  GROUP BY word
        |  -- mirror the trainer's deterministic maxVocab head-cap so
        |  -- the contract holds past 2^22 distinct words
        |  ORDER BY freq DESC, word ASC LIMIT 4194304),
        |bi0 AS (
        |  -- lockstep unnest (DuckDB zips parallel unnests; a lateral
        |  -- generate_series with a column argument is unsupported)
        |  SELECT
        |    unnest(list_transform(generate_series(1, length(word) - 1),
        |      i -> substr(word, CAST(i AS INTEGER), 1))) AS lhs,
        |    unnest(list_transform(generate_series(1, length(word) - 1),
        |      i -> substr(word, CAST(i AS INTEGER) + 1, 1))) AS rhs,
        |    freq
        |  FROM w),
        |bi AS (SELECT lhs, rhs, SUM(freq) AS c FROM bi0 GROUP BY 1, 2),
        |top1 AS (SELECT lhs, rhs, c FROM bi ORDER BY c DESC, lhs ASC, rhs ASC LIMIT 1),
        |corpus AS (
        |  SELECT 'corpus' AS part, CAST(g.s AS INTEGER) AS step,
        |    CASE WHEN g.s = 1 THEN t.lhs END AS lhs,
        |    CASE WHEN g.s = 1 THEN t.rhs END AS rhs,
        |    CASE WHEN g.s = 1 THEN CAST(t.c AS BIGINT) END AS pair_count,
        |    TRUE AS mono_ok, TRUE AS wf_ok
        |  FROM generate_series(1, 10) AS g(s) CROSS JOIN top1 t),
        |planted AS (
        |  SELECT 'planted' AS part, CAST(step AS INTEGER) AS step, lhs, rhs,
        |    CAST(c AS BIGINT) AS pair_count, TRUE AS mono_ok, TRUE AS wf_ok
        |  FROM (VALUES (1,'a','b',32),(2,'ab','c',32),(3,'abc','d',32),
        |    (4,'abcd','e',32),(5,'abcde','f',32),(6,'abcdef','g',32),
        |    (7,'abcdefg','h',32),(8,'abcdefgh','i',32),(9,'abcdefghi','j',32),
        |    (10,'abcdefghij','k',32)) v(step, lhs, rhs, c))
        |SELECT * FROM (SELECT * FROM planted UNION ALL SELECT * FROM corpus)
        |ORDER BY part ASC NULLS FIRST, step ASC NULLS FIRST""".stripMargin)),

    // What those merges buy: tokens-per-word before (chars) and after
    // the 10 merges. Same two-part contract: the planted corpus
    // compresses to EXACTLY one token per word (32 words × 11 chars →
    // 32 tokens, 11.0 chars/token — oracle literals); the corpus row
    // pins n_words and n_chars_total cross-engine (DuckDB recomputes
    // both from the word-frequency table exactly), with the
    // engine-dependent token count reported through two measured
    // bounds: tokens ≤ chars (merges only shrink) and tokens ≥ chars
    // − Σ pair_count (each counted pair absorbs at most one merge
    // application — a trainer that over-merges flips it).
    Decl("q_llm_bpe_compress", (spark, dir) => {
      def stats(mss: (Seq[(Int, String, String, Long)], Seq[(Long, Array[String])]))
          : (Long, Long, Long, Long) = {
        val (ms, syms) = mss
        val nWords = syms.iterator.map(_._1).sum
        val nChars = syms.iterator.map { case (f, s) =>
          f * s.iterator.map(cpLen).sum }.sum
        val nToks = syms.iterator.map { case (f, s) => f * s.length }.sum
        (nWords, nChars, nToks, ms.map(_._4).sum)
      }
      val (cW, cC, cT, cSum) = stats(trainBpe(spark, dir, 10))
      val (pW, pC, pT, pSum) = stats(trainBpeOn(
        spark.range(0, 32, 1, 1).select(lit("abcdefghijk").as("text")), 10))
      def cpt(chars: Long, toks: Long): Double = BigDecimal(chars.toDouble / toks)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      import spark.implicits._
      Seq(
        ("planted", pW, pC, Some(pT), Some(cpt(pC, pT)),
          pT <= pC, pT >= pC - pSum),
        ("corpus", cW, cC, None: Option[Long], None: Option[Double],
          cT <= cC, cT >= cC - cSum))
        .toDF("part", "n_words", "n_chars_total", "n_tokens_total",
          "chars_per_token", "toks_le_chars", "toks_ge_floor")
        .orderBy(col("part").asc_nulls_first)
    }, Some(
      """WITH w AS (
        |  SELECT word, COUNT(*) AS freq
        |  FROM (SELECT unnest(WORDS(lower(text))) AS word FROM documents)
        |  GROUP BY word
        |  -- mirror the trainer's deterministic maxVocab head-cap so
        |  -- the contract holds past 2^22 distinct words
        |  ORDER BY freq DESC, word ASC LIMIT 4194304)
        |SELECT * FROM (
        |  SELECT 'planted' AS part, CAST(32 AS BIGINT) AS n_words,
        |    CAST(352 AS BIGINT) AS n_chars_total,
        |    CAST(32 AS BIGINT) AS n_tokens_total,
        |    CAST(11.0 AS DOUBLE) AS chars_per_token,
        |    TRUE AS toks_le_chars, TRUE AS toks_ge_floor
        |  UNION ALL
        |  SELECT 'corpus', CAST(SUM(freq) AS BIGINT),
        |    CAST(SUM(freq * length(word)) AS BIGINT),
        |    CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), TRUE, TRUE
        |  FROM w)
        |ORDER BY part ASC NULLS FIRST""".stripMargin)),

    // Tokenizer fertility by language: characters per whitespace token
    // and per 4-chars-≈-1-BPE-token estimate. The per-language ratio is
    // what decides whether a tokenizer under-serves a language (high
    // fertility = more tokens per char of content). Ratios divide in
    // DOUBLE on both engines (the q_tpch_q1 AVG idiom) — they are
    // outputs, not filter boundaries.
    Decl("q_llm_fertility", (spark, dir) =>
      Tables(spark, dir, "documents")
        .select(col("lang"), length(col("text")).as("nc"),
          size(Text.words(col("text"))).as("nw"),
          expr("(length(text) + 3) div 4").as("est"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("nw")).as("total_tokens"),
          sum(col("nc")).as("total_chars"),
          round(sum(col("nc")).cast("double") / sum(col("nw")).cast("double"), 4)
            .as("chars_per_token"),
          round(sum(col("nc")).cast("double") / sum(col("est")).cast("double"), 4)
            .as("chars_per_bpe"))
        .orderBy(col("lang").asc_nulls_first),
      Some(
        """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(len(WORDS(text))) AS BIGINT) AS total_tokens,
          |  CAST(SUM(length(text)) AS BIGINT) AS total_chars,
          |  ROUND(CAST(SUM(length(text)) AS DOUBLE) /
          |    CAST(SUM(len(WORDS(text))) AS DOUBLE), 4) AS chars_per_token,
          |  ROUND(CAST(SUM(length(text)) AS DOUBLE) /
          |    CAST(SUM((length(text) + 3) // 4) AS DOUBLE), 4) AS chars_per_bpe
          |FROM documents
          |GROUP BY lang
          |ORDER BY lang ASC NULLS FIRST""".stripMargin)),

    // Context-length planning: documents histogrammed by
    // floor(log2(est_tokens)) — the power-of-two buckets that decide
    // sequence-length tiers. The bucket is the binary-string length
    // (exact at boundaries in both engines, the q_evt_powerlaw trick).
    Decl("q_llm_contextlen", (spark, dir) =>
      Tables(spark, dir, "documents")
        .select(expr("(length(text) + 3) div 4").as("tok"))
        .select((length(bin(greatest(col("tok"), lit(1)))) - 1).cast("long").as("bucket"),
          col("tok"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("tok")).as("min_tokens"), max(col("tok")).as("max_tokens"),
          sum(col("tok")).as("total_tokens"))
        .orderBy(col("bucket").asc_nulls_first),
      Some(
        """SELECT CAST(length(bin(greatest(tok, 1))) - 1 AS BIGINT) AS bucket,
          |  COUNT(*) AS n_docs, MIN(tok) AS min_tokens, MAX(tok) AS max_tokens,
          |  CAST(SUM(tok) AS BIGINT) AS total_tokens
          |FROM (SELECT (length(text) + 3) // 4 AS tok FROM documents)
          |GROUP BY 1
          |ORDER BY bucket ASC NULLS FIRST""".stripMargin)),

  )
}
