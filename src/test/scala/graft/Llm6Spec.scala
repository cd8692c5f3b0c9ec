package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the part-6 ops beyond the DuckDB row
  * oracles: the winnowing containment guarantee (Schleimer et al.
  * SIGMOD'03 §3: any shared run of >= w+k-1 tokens shares a
  * fingerprint), entropy's closed-form endpoints, and BM25's tf
  * monotonicity at fixed document length.
  */
class Llm6Spec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def winnowOn(texts: Seq[String]) = {
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("winnow").toString
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    ops.DedupOps.decls.find(_.name == "q_llm_winnow").get.fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
  }

  test("q_llm_winnow guarantee: docs sharing a >= w+k-1 = 7 token run share a fingerprint") {
    val shared = "alpha beta gamma delta epsilon zeta eta" // exactly 7 tokens
    val fps = winnowOn(Seq(
      s"one two three $shared four five six",
      s"red green blue $shared purple orange pink"))
    val a = fps.collect { case (0L, fp) => fp }.toSet
    val b = fps.collect { case (1L, fp) => fp }.toSet
    assert(a.intersect(b).nonEmpty,
      s"no shared fingerprint despite a 7-token shared run (a=$a b=$b)")
  }

  test("q_llm_winnow: disjoint vocabularies share no fingerprint") {
    val fps = winnowOn(Seq(
      "aa bb cc dd ee ff gg hh ii jj",
      "kk ll mm nn oo pp qq rr ss tt"))
    val a = fps.collect { case (0L, fp) => fp }.toSet
    val b = fps.collect { case (1L, fp) => fp }.toSet
    assert(a.nonEmpty && b.nonEmpty && a.intersect(b).isEmpty)
  }

  private def llm6(name: String, texts: Seq[String]) = {
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("llm6").toString
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    SparkEntry.queries(name)(spark, dir).collect()
  }

  test("q_llm_entropy endpoints: constant doc = 0 bits, all-distinct doc = log2(n)") {
    val rows = llm6("q_llm_entropy", Seq(
      "spam spam spam spam spam spam spam spam", // 8x same word
      "a b c d e f g h"))                        // 8 distinct
    val byId = rows.map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(byId(0L) == 0.0, s"constant doc entropy ${byId(0L)}")
    assert(math.abs(byId(1L) - 3.0) < 1e-9, s"uniform-8 entropy ${byId(1L)}")
  }

  test("q_llm_bm25: at equal length, more query-term occurrences scores higher") {
    val rows = llm6("q_llm_bm25", Seq(
      "vector vector vector pad pad pad pad pad",
      "vector pad pad pad pad pad pad pad",
      "pad pad pad pad pad pad pad pad"))
    val byId = rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byId.contains(0L) && byId.contains(1L) && !byId.contains(2L),
      s"expected only term-matching docs in results: $byId")
    assert(byId(0L) > byId(1L), s"tf=3 ${byId(0L)} should beat tf=1 ${byId(1L)}")
  }
}
