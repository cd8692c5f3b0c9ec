package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the part-8 ops beyond the DuckDB row
  * oracles: Gibbs' inequality for the KL probe (zero iff the source
  * matches the corpus distribution), the mixing weights' simplex
  * constraints, and exact Hamming behavior on planted codes.
  */
class Llm8Spec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def docsRun(name: String, rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    val df = rows.toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files.createTempDirectory("llm8").toString
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    SparkEntry.queries(name)(spark, dir).collect()
  }

  test("q_llm_kldiv: identical-distribution source has KL = 0, divergent source KL > 0") {
    val rows = docsRun("q_llm_kldiv", Seq(
      // 'same' matches the corpus distribution only when it IS the
      // whole corpus — so run two sources with disjoint vocabulary:
      // each must diverge from their pooled mix (ln 2 per word here).
      (0L, "aa bb aa bb", "left"),
      (1L, "cc dd cc dd", "right")))
    val kl = rows.map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(kl("left") > 0.6 && kl("right") > 0.6,
      s"disjoint halves each diverge by ln2 from the pooled mix: $kl")

    val uniform = docsRun("q_llm_kldiv", Seq((0L, "aa bb cc", "only")))
    assert(uniform.head.getDouble(2) == 0.0,
      s"single-source corpus must have zero divergence: ${uniform.head}")
  }

  test("q_llm_tempmix: weights stay on the simplex and flatten toward the small source") {
    val rows = docsRun("q_llm_tempmix",
      (0L until 90L).map(i => (i, "x", "big")) ++
        (90L until 100L).map(i => (i, "x", "small")))
    val byS = rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toList
    val wSum = byS.map(_._3).sum
    assert(math.abs(wSum - 1.0) < 2e-4, s"weights must sum to ~1: $byS")
    val w = byS.map(t => t._1 -> t._3).toMap
    val share = byS.map(t => t._1 -> t._2).toMap
    // alpha=0.5 upsamples the minority: weight share must exceed doc share
    assert(w("small") > share("small").toDouble / 100 && w("small") < 0.5,
      s"minority source must be upsampled but stay minority: $byS")
  }

  test("q_llm_hamming: planted codes rank by exact bit distance") {
    import spark.implicits._
    // vec 0 (query): signs +,+,+,+...; vec 21 differs in 1 dim, vec 22
    // in 2 dims, vec 23 in 3 — distances must come back 1, 2, 3.
    def v(flip: Int) = (0 until 64).map(i =>
      if (i < flip) -1.0f else 1.0f).toArray
    val vecs = Seq((0L, v(0)), (21L, v(1)), (22L, v(2)), (23L, v(3)))
    val dir = java.nio.file.Files.createTempDirectory("llm8ham").toString
    vecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = ops.SimilarityOps.decls.find(_.name == "q_llm_hamming").get
      .fn(spark, dir).collect()
      .filter(_.getLong(0) == 0L)
      .map(r => r.getLong(2) -> r.getInt(3)).toMap
    assert(rows == Map(21L -> 1, 22L -> 2, 23L -> 3),
      s"planted flips must rank by exact popcount distance: $rows")
  }
}
