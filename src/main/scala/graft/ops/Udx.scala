package graft.ops

import graft.{Decl, Pack, Tables}
import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** UDF / UDAF / UDTF surface (SURVEY.md §2.2).
  *
  * The typed Aggregator keeps its buffer in BigDecimal so the result
  * is independent of partition merge order (a Double buffer would make
  * the weighted average nondeterministic under AQE re-partitioning).
  */
object Udx extends Pack {

  case class WBuf(swx: BigDecimal, sw: BigDecimal)

  /** Weighted mean of (value, weight) with exact decimal accumulation. */
  object WeightedAvg extends Aggregator[(Double, Double), WBuf, BigDecimal] {
    private val mc = java.math.MathContext.DECIMAL128
    override def zero: WBuf = WBuf(BigDecimal(0), BigDecimal(0))
    override def reduce(b: WBuf, a: (Double, Double)): WBuf = {
      // fixed-point 6dp via valueOf(long, scale): same value as
      // BigDecimal(double).setScale(6, HALF_UP) for these ≤2dp inputs,
      // but skips the full binary-fraction expansion + re-round that
      // dominated this aggregator's per-row cost (bench r6: 0.96 s)
      val v = BigDecimal(java.math.BigDecimal.valueOf(Math.round(a._1 * 1e6), 6))
      val w = BigDecimal(java.math.BigDecimal.valueOf(Math.round(a._2 * 1e6), 6))
      WBuf(b.swx + v * w, b.sw + w)
    }
    override def merge(x: WBuf, y: WBuf): WBuf = WBuf(x.swx + y.swx, x.sw + y.sw)
    override def finish(r: WBuf): BigDecimal =
      if (r.sw == BigDecimal(0)) BigDecimal(0)
      else (r.swx(mc) / r.sw(mc)).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    override def bufferEncoder: Encoder[WBuf] = Encoders.product[WBuf]
    override def outputEncoder: Encoder[BigDecimal] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[BigDecimal]()
  }

  def decls: Seq[Decl] = Seq(

    // Scala scalar UDF — discount banding. (Native `when` would codegen
    // better; this declares the UDF extension point itself.)
    Decl("q_udf_scalar", (spark, dir) => {
      val band = udf((d: Double) =>
        if (d < 0.02) "low" else if (d < 0.06) "mid" else "high")
      Tables(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_discount"),
          band(col("l_discount")).as("disc_band"))
        .orderBy(col("l_orderkey").asc_nulls_first, col("l_linenumber").asc_nulls_first,
          col("l_discount").asc_nulls_first, col("disc_band").asc_nulls_first)
    }, Some(
      """SELECT l_orderkey, l_linenumber, l_discount,
        |  CASE WHEN l_discount < 0.02 THEN 'low'
        |       WHEN l_discount < 0.06 THEN 'mid'
        |       ELSE 'high' END AS disc_band
        |FROM lineitem
        |ORDER BY l_orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST,
        |  l_discount ASC NULLS FIRST, disc_band ASC NULLS FIRST""".stripMargin)),

    // Typed Aggregator registered as a UDAF: quantity-weighted mean price.
    Decl("q_udaf", (spark, dir) => {
      val wavg = udaf(WeightedAvg)
      Tables(spark, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(wavg(col("l_extendedprice"), col("l_quantity"))
          .cast("decimal(18,4)").cast("double").as("wavg_price"))
        .orderBy(col("l_returnflag").asc_nulls_first)
    }, Some(
      """SELECT l_returnflag,
        |  D4(
        |    SUM(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_quantity AS DECIMAL(9,6)))
        |      / SUM(CAST(l_quantity AS DECIMAL(9,6)))) AS wavg_price
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag ASC NULLS FIRST""".stripMargin)),

    // Table function: document → one row per word (explode re-impl as a
    // typed flatMap — Spark's Generator seam).
    Decl("q_udtf", (spark, dir) => {
      import spark.implicits._
      Tables(spark, dir, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), Text.words(col("text"))).as[(Long, Seq[String])]
        .flatMap { case (id, ws) => ws.map(w => (id, w)) }
        .toDF("doc_id", "word")
        .orderBy(col("doc_id").asc_nulls_first, col("word").asc_nulls_first)
    }, Some(
      """SELECT doc_id, unnest(WORDS(text)) AS word
        |FROM documents WHERE doc_id < 100
        |ORDER BY doc_id ASC NULLS FIRST, word ASC NULLS FIRST""".stripMargin)),
  )
}
