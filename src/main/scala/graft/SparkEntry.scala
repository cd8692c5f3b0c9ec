package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 registers one [[Decl]] in a [[Pack]];
  * packs are aggregated here into `queries` (Spark side) and `oracleSql`
  * (DuckDB side, run by the driver on the same parquet tables).
  */
object SparkEntry {

  private def packs: Seq[Pack] = Seq(
    ops.Scans,
    ops.Filters,
    ops.Joins,
    ops.Aggs,
    ops.Windows,
    ops.SortsSets,
    ops.ScalarFns,
    ops.Udx,
    ops.DedupOps,
    ops.SimilarityOps,
    ops.TextStatsOps,
    ops.MultimodalOps,
    ops.PipelineOps,
    ops.EventOps,
    ops.TpchOps,
    ops.StreamOps,
    ops.CatalogOps,
  )

  private lazy val allDecls: Seq[Decl] = {
    val ds = packs.flatMap(_.decls)
    val dup = ds.groupBy(_.name).filter(_._2.size > 1).keys
    require(dup.isEmpty, s"duplicate query names: ${dup.mkString(", ")}")
    ds
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Aggs.q1(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDecls.map(d => d.name -> d.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables (D2/D4/D6/D4SUM decimal-determinism macros
    * expanded here — [[Dsl.expandOracle]]). Omit for non-SQL-expressible
    * ops. */
  def oracleSql: Map[String, String] =
    allDecls.flatMap(d => d.oracle.map(o => d.name -> Dsl.expandOracle(o))).toMap
}
