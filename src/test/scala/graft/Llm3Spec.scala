package graft

import graft.ops.DedupOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 LLM-pipeline operators: LSH embedding dedup recall bound
  * and pipeline determinism.
  */
class Llm3Spec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("embdup LSH finds planted duplicate pairs (recall >= 0.9)") {
    val base = Tables(spark, TestSpark.sf, "embeddings")
      .filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // plant exact duplicates: identical vectors under shifted ids —
    // every (i, i+100000) pair has cosine 1.0 and MUST bucket together
    val planted = base.filter(col("vec_id") < 50)
      .select((col("vec_id") + 100000L).as("vec_id"), col("e"))
    val emb = base.unionByName(planted)
    val found = DedupOps.embdupLshPairs(spark, emb)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 50L).map(i => (i, i + 100000L)).toSet
    val recall = expected.count(found).toDouble / expected.size
    assert(recall >= 0.9, s"LSH dedup recall $recall < 0.9 (found ${found.size} pairs)")
  }

  test("semDedup drops exactly the planted duplicates, keeps the first of each pair") {
    val base = Tables(spark, TestSpark.sf, "embeddings")
      .filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val planted = base.filter(col("vec_id") < 50)
      .select((col("vec_id") + 100000L).as("vec_id"), col("e"))
    val kept = DedupOps.semDedup(spark, base.unionByName(planted))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // every planted twin (higher id) must drop; its original must survive
    val twinsDropped = (0L until 50L).count(i => !kept(i + 100000L))
    assert(twinsDropped >= 45, s"only $twinsDropped/50 planted twins dropped")
    assert((0L until 50L).forall(kept), "an original was dropped instead of its twin")
    // the fixture's 200 base vectors have no ≥0.95 near-dups (q_llm_embdup
    // is empty at this sf) — none may be falsely dropped
    assert((50L until 200L).forall(kept), "false drop among distinct vectors")
  }

  test("pipeline query is deterministic across runs") {
    val a = SparkEntry.queries("q_llm_pipeline")(spark, TestSpark.sf).collect().map(_.toString)
    val b = SparkEntry.queries("q_llm_pipeline")(spark, TestSpark.sf).collect().map(_.toString)
    assert(a.nonEmpty && a.toSeq == b.toSeq)
  }
}
