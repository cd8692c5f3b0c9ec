package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Text-kernel and scalar-quantization invariants that the DuckDB oracle can't express (float
  * quantization) plus planted-input checks for the canonicalizer.
  */
class Llm4Spec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("normText canonicalizes case/punctuation/whitespace variants together") {
    import spark.implicits._
    val df = Seq(
      (1L, "Hello,  WORLD! 42"),
      (2L, "hello world 42"),
      (3L, "HELLO-world;42"),   // punctuation → space → same tokens
      (4L, "different doc")).toDF("doc_id", "text")
    val normed = df.select(ops.Text.normText(col("text")).as("n"))
      .collect().map(_.getString(0))
    assert(normed(0) == "hello world 42")
    assert(normed.take(3).toSet.size == 1, s"variants must collapse: ${normed.toSeq}")
    assert(normed(3) == "different doc")
  }

  test("q_llm_normalize finds at least every exact-dup group") {
    val exact = SparkEntry.queries("q_llm_exactdedup")(spark, sf).count()
    val norm = SparkEntry.queries("q_llm_normalize")(spark, sf).count()
    assert(norm >= exact, s"normalized grouping ($norm) must be >= exact ($exact)")
  }

  test("q_llm_ttr: diversity ratio well-formed") {
    val rows = SparkEntry.queries("q_llm_ttr")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nt, nd, ttr) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nd <= nt && nd > 0)
      assert(ttr > 0.0 && ttr <= 1.0, s"ttr $ttr out of range")
    }
  }

  test("q_llm_crossdedup: every reported group spans >1 source") {
    SparkEntry.queries("q_llm_crossdedup")(spark, sf).collect().foreach { r =>
      assert(r.getLong(1) > 1)
    }
  }

  test("q_llm_sq: int8 codes in range, reconstruction error within half a step") {
    val rows = graft.ops.SimilarityOps.sqQuantize(spark, sf).collect()
    assert(rows.size >= 100)
    rows.foreach { r =>
      val scale = r.getDouble(2)
      val codes = r.getSeq[Int](3)
      val maxErr = r.getDouble(4)
      assert(codes.forall(c => c >= 0 && c <= 255), "codes must fit unsigned int8")
      // half a quantization step plus float32 slack
      assert(maxErr <= scale / 2 * 1.001 + 1e-6,
        s"vec ${r.getLong(0)}: err $maxErr > step/2 ${scale / 2}")
    }
  }

  test("q_llm_sq declared output is scalar-only (verifier-sortable)") {
    val df = SparkEntry.queries("q_llm_sq")(spark, sf)
    df.schema.fields.foreach { f =>
      assert(!f.dataType.typeName.startsWith("array"),
        s"declared q_llm_sq column ${f.name} is ${f.dataType}; arrays break the checker")
    }
    val r = df.limit(1).collect().head
    assert(r.getString(3).startsWith("["), "codes_str should be the canonical [a, b, …] form")
  }
}
