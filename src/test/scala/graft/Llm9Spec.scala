package graft

import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed BPE merge sequences pin the trainer's corpus ranks
  * 2-10 (data-dependent iteration the SQL contract oracle leaves
  * NULL); the declared q_llm_bpe/q_llm_bpe_compress parts are
  * additionally DuckDB-oracled via the planted known-answer corpus +
  * corpus step-1/word-count pins. */
class Llm9Spec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def train(texts: Seq[String], k: Int = 10) = {
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("llm9").toString
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    ops.TextStatsOps.trainBpe(spark, dir, k)
  }

  test("q_llm_bpe: merges follow hand-computed pair counts and stop when no pairs remain") {
    // vocab: "ab" x3, "abc" x1. pairs: (a,b)=4, (b,c)=1 → merge 1 = (a,b,4).
    // then "ab"→[ab], "abc"→[ab,c]: pairs: (ab,c)=1 → merge 2 = (ab,c,1).
    // then every word is a single symbol → training stops early.
    val (merges, _) = train(Seq("ab ab ab", "abc"))
    assert(merges == Seq((1, "a", "b", 4L), (2, "ab", "c", 1L)),
      s"unexpected merge sequence: $merges")
  }

  test("q_llm_bpe: greedy leftmost merge handles overlapping pairs") {
    // "aaa" x2: pairs (a,a) = 2 occurrences x 2 freq = 4 → merge (a,a,4).
    // greedy leftmost: [a,a,a] → [aa,a] (NOT [a,aa]).
    // next round pairs: (aa,a)=2 → merge 2 = (aa,a,2).
    val (merges, _) = train(Seq("aaa aaa"))
    assert(merges.take(2) == Seq((1, "a", "a", 4L), (2, "aa", "a", 2L)),
      s"unexpected merge sequence: $merges")
  }

  test("q_llm_bpe: ties break on (count desc, left asc, right asc)") {
    // "xy" x1 and "ab" x1: both pairs count 1 → (a,b) merges first.
    val (merges, _) = train(Seq("xy ab"))
    assert(merges.head == ((1, "a", "b", 1L)), s"tie-break violated: $merges")
  }

  test("q_llm_mmr: a redundant near-duplicate of the top hit is deferred for a diverse one") {
    import spark.implicits._
    // query 0 along e1; vecs 1,2 nearly identical high-relevance;
    // vec 3 slightly less relevant but diverse → MMR order 1, 3, 2.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.9f, 0.11f, 0.0f)),
      (3L, Array(0.8f, 0.0f, 0.6f)))
    val dir = java.nio.file.Files.createTempDirectory("llm9mmr").toString
    vecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val picks = ops.SimilarityOps.mmrRanks(spark, dir)
    val order = picks.map(_.vecId)
    assert(order == Seq(1L, 3L, 2L),
      s"diverse vec must outrank the near-duplicate: $order")
    assert(picks.forall(p => p.greedyOk && p.monoOk),
      s"greedy/monotonicity contract violated: $picks")
  }

  test("q_llm_bpe_compress: single-char words compress to exactly 1 token per word") {
    import org.apache.spark.sql.functions.col
    val dir = {
      import spark.implicits._
      val d = java.nio.file.Files.createTempDirectory("llm9c").toString
      Seq((0L, "ab ab cd cd")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
      d
    }
    // 4 words x 2 chars; both bigrams merge within 10 steps → 1 token/word
    val (_, syms) = ops.TextStatsOps.trainBpe(spark, dir, 10)
    val nToks = syms.iterator.map { case (f, s) => f * s.length }.sum
    assert(nToks == 4L, s"expected 1 token per word, got $nToks tokens")
    // and the declared contract rows: corpus pins exact words/chars
    // with the token bounds measured true; planted is the literal
    // known-answer row
    val rows = ops.TextStatsOps.decls.find(_.name == "q_llm_bpe_compress").get
      .fn(spark, dir).collect()
    val c = rows.find(_.getString(0) == "corpus").get
    assert(c.getLong(1) == 4L && c.getLong(2) == 8L &&
      c.isNullAt(3) && c.isNullAt(4) && c.getBoolean(5) && c.getBoolean(6),
      s"unexpected corpus contract row: $c")
    val p = rows.find(_.getString(0) == "planted").get
    assert(p.getLong(1) == 32L && p.getLong(2) == 352L && p.getLong(3) == 32L &&
      p.getDouble(4) == 11.0 && p.getBoolean(5) && p.getBoolean(6),
      s"unexpected planted contract row: $p")
  }

  test("q_llm_bpe: non-BMP characters are single symbols (codepoints, not UTF-16 units)") {
    // "😀a" in UTF-16 is 3 code units; toCharArray would have split the
    // emoji into two lone surrogates and DuckDB (codepoint substr/
    // length) would disagree on both bigrams and char totals
    val (merges, syms) = train(Seq("😀a 😀a"))
    assert(merges.head == ((1, "😀", "a", 2L)),
      s"expected the (emoji, a) pair to merge first: $merges")
    assert(syms.forall(_._2.length == 1), s"post-merge each word is 1 token: $syms")
  }

  test("q_llm_bpe/compress corpus rows stay oracle-shaped when training exhausts early") {
    import org.apache.spark.sql.functions.col
    // only 2 merges possible; the SQL oracle still emits 10 corpus
    // rows (generate_series x top1), so the Spark side must pad
    val dir = {
      import spark.implicits._
      val d = java.nio.file.Files.createTempDirectory("llm9pad").toString
      Seq((0L, "ab ab ab abc")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
      d
    }
    val rows = ops.TextStatsOps.decls.find(_.name == "q_llm_bpe").get
      .fn(spark, dir).filter(col("part") === "corpus").collect()
    assert(rows.length == 10, s"expected 10 padded corpus rows, got ${rows.length}")
    assert(rows(0).getString(2) == "a" && rows(0).getString(3) == "b" &&
      rows(0).getLong(4) == 4L, s"step-1 pin: ${rows(0)}")
    rows.drop(1).foreach { r =>
      assert(r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4) &&
        r.getBoolean(5) && r.getBoolean(6), s"padded/unpinned row shape: $r")
    }
    // and the compress corpus row counts codepoint chars exactly
    val c = ops.TextStatsOps.decls.find(_.name == "q_llm_bpe_compress").get
      .fn(spark, dir).collect().find(_.getString(0) == "corpus").get
    assert(c.getLong(1) == 4L && c.getLong(2) == 9L, s"4 words, 9 chars: $c")
  }

  test("q_llm_bpe planted part: the full 10-step prefix merge table, exactly") {
    import org.apache.spark.sql.functions.col
    val rows = ops.TextStatsOps.decls.find(_.name == "q_llm_bpe").get
      .fn(spark, TestSpark.sf)
      .filter(col("part") === "planted").collect()
    assert(rows.length == 10)
    val prefix = "abcdefghijk"
    rows.zipWithIndex.foreach { case (r, i) =>
      val s = i + 1
      assert(r.getInt(1) == s && r.getString(2) == prefix.take(s) &&
        r.getString(3) == prefix(s).toString && r.getLong(4) == 32L &&
        r.getBoolean(5) && r.getBoolean(6),
        s"step $s mismatch: $r")
    }
  }
}
