package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the part-7 ops beyond the DuckDB row
  * oracles: the toxicity flag's integer-exact threshold edge, prefix
  * duplication on planted templated docs, PMI's sign for perfectly
  * co-occurring vs never-co-occurring pairs, and kNN label agreement
  * on a linearly separated planted embedding space.
  */
class Llm7Spec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def docsRun(name: String, rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    val df = rows.toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files.createTempDirectory("llm7").toString
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    SparkEntry.queries(name)(spark, dir).collect()
  }

  test("q_llm_toxicity: flag fires exactly at the 4% integer threshold") {
    // 25 words with 1 blocked = exactly 4% → flagged (n_blocked*25 >= n_words);
    // 26 words with 1 blocked = under 4% → clean.
    val at = (Seq.fill(24)("pad") :+ "slow").mkString(" ")
    val under = (Seq.fill(25)("pad") :+ "slow").mkString(" ")
    val rows = docsRun("q_llm_toxicity",
      Seq((0L, at, "edge"), (1L, under, "safe")))
    val flagged = rows.map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(flagged("edge") == 1L, s"4%-exact doc must flag: $flagged")
    assert(flagged("safe") == 0L, s"under-4% doc must not flag: $flagged")
  }

  test("q_llm_prefixdup: identical 16-char headers count as dup docs, distinct ones don't") {
    val hdr = "TEMPLATE-HEADER!" // exactly 16 chars
    val rows = docsRun("q_llm_prefixdup", Seq(
      (0L, hdr + " body one", "t"),
      (1L, hdr + " totally different body", "t"),
      (2L, "unique prefix here", "t")))
    val r = rows.head
    assert(r.getLong(1) == 3L && r.getLong(2) == 2L && r.getLong(3) == 2L,
      s"expected 3 docs / 2 prefixes / 2 dup docs, got $r")
  }

  test("q_llm_cooccur: always-paired words get positive PMI, PMI is symmetric-complete over the vocab") {
    // "north south" always travel together; "east"/"west" each appear alone.
    val rows = docsRun("q_llm_cooccur", Seq(
      (0L, "north south", "s"), (1L, "north south", "s"),
      (2L, "east", "s"), (3L, "west", "s")))
    val pmi = rows.map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    // P(north,south)=1/2, P(north)=P(south)=1/2 → PMI = ln(2) > 0
    assert(math.abs(pmi(("north", "south")) - math.log(2.0)) < 1e-3,
      s"paired-words PMI: $pmi")
    assert(!pmi.contains(("east", "west")), s"never-co-occurring pair must be absent: $pmi")
  }

  test("q_llm_knnlabel: planted separable labels vote their own label") {
    import spark.implicits._
    // Two far-apart clusters on orthogonal axes: label 0 near e1, label 1
    // near e2, with small deterministic jitter so neighbors are distinct.
    val vecs = (0 until 60).map { i =>
      val lab = i % 2
      val j = 0.001f * (i / 2)
      val e =
        if (lab == 0) Array(1f, j, 0f, 0f) else Array(j, 0f, 1f, 0f)
      (i.toLong, e, lab)
    }
    val dir = java.nio.file.Files.createTempDirectory("llm7knn").toString
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = ops.SimilarityOps.decls.find(_.name == "q_llm_knnlabel").get
      .fn(spark, dir).collect()
    assert(rows.length == 50, s"50 query vectors expected, got ${rows.length}")
    assert(rows.forall(_.getInt(4) == 1),
      s"all planted queries must agree with their neighborhood: " +
        rows.filter(_.getInt(4) == 0).mkString(", "))
  }

  test("q_llm_centroid: members of a tight planted cluster face their centroid (avg_cos ~ 1)") {
    import spark.implicits._
    val vecs = (0 until 20).map { i =>
      (i.toLong, Array(1f, 0.001f * i, 0f, 0f), 7)
    }
    val dir = java.nio.file.Files.createTempDirectory("llm7cent").toString
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = ops.SimilarityOps.decls.find(_.name == "q_llm_centroid").get
      .fn(spark, dir).collect().head
    assert(r.getLong(1) == 20L)
    assert(r.getDouble(3) > 0.9999, s"tight cluster avg_cos ${r.getDouble(3)}")
  }
}
