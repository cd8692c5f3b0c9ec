package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One declared operator from SURVEY.md §2: the Spark-side query plus
  * (when SQL-expressible) the DuckDB oracle run by the driver on the
  * same parquet tables. Keeping both in one value keeps output column
  * names in sync — the driver's compare sorts columns by name and
  * hashes values, so names must match exactly.
  */
final case class Decl(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait Pack { def decls: Seq[Decl] }

/** Loads the driver-generated parquet fixtures (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred file schema per path. Schema inference is a footer-read
    * job Spark submits on EVERY bare `spark.read.parquet(path)` — one
    * 30–50 ms driver round-trip per table per query build (guide §6:
    * metadata work on the driver). The fixture files are immutable for
    * a process lifetime, and a schema is data-independent metadata —
    * caching it changes no result, it only pre-declares what inference
    * would re-derive. (The engine's own catalog tables already plan
    * from manifest metadata; this is the same idea for the raw
    * fixture reads.) */
  private val schemaCache =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.types.StructType]

  private def read(spark: SparkSession, path: String): DataFrame = {
    val sch = schemaCache.getOrElseUpdate(path, spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as both parquet TIMESTAMP(NANOS) (which
      // Spark's vectorized reader rejects — read as raw nanos and
      // floor-truncate to µs, exactly what DuckDB does) and plain
      // TIMESTAMP(MICROS) ntz. Dispatch on the actual file schema so
      // either fixture vintage yields the same timestamp_ntz column.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = read(spark, s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts",
            timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
        case _ =>
          df.withColumn("ts", col("ts").cast("timestamp_ntz"))
      }
    } else {
      read(spark, s"$dir/$name.parquet")
    }
}

/** Determinism helpers shared by every declared query (SURVEY.md §7):
  * double aggregates must be exact in both engines → cast inputs to
  * decimal before SUM/AVG; every result ends in a total ORDER BY with
  * explicit null ordering.
  */
object Dsl {
  /** Exact pre-aggregation numeric: decimal(18,6) sums identically in
    * Spark and DuckDB regardless of addition order. Built as
    * [[graft.functions.FastCastDec]] — bit-identical to
    * `.cast("decimal(18,6)")` (the embedded real Cast takes every
    * non-trivial case) without the per-row Double.toString+BigDecimal
    * detour in the hot path. */
  def dec(c: Column): Column = fastDec(c, 18, 6)

  /** Narrow decimal for factors in [0,1] (discount/tax): keeps chained
    * decimal multiplication within 38 digits of precision in BOTH
    * engines, so no engine-specific scale truncation kicks in. */
  def frac(c: Column): Column = fastDec(c, 8, 6)

  private def fastDec(c: Column, p: Int, s: Int): Column = {
    import org.apache.spark.sql.GraftColumnShim
    GraftColumnShim.column(graft.functions.FastCastDec(
      GraftColumnShim.expression(c), p, s,
      org.apache.spark.sql.catalyst.expressions.EvalMode
        .fromSQLConf(org.apache.spark.sql.internal.SQLConf.get).toString))
  }

  /** `a * b` for decimal columns — bit-identical to the `*` operator
    * (the embedded real Multiply takes every non-trivial case) without
    * the per-row BigDecimal multiply when both unscaled values fit in
    * longs ([[graft.functions.FastDecMul]]). */
  def mul(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnShim
    val conf = org.apache.spark.sql.internal.SQLConf.get
    GraftColumnShim.column(graft.functions.FastDecMul(
      GraftColumnShim.expression(a), GraftColumnShim.expression(b),
      org.apache.spark.sql.catalyst.expressions.EvalMode.fromSQLConf(conf).toString,
      conf.decimalOperationsAllowPrecisionLoss))
  }

  /** Final output shape for money-like aggregates: exact decimal(18,4)
    * value (order-independent, identical in both engines), then a last
    * cast to double so the DECLARED schema is floating-point — the
    * driver's checker stringifies parquet DECIMAL as "50.0000" but
    * DuckDB results as float "50.0", so a physical DECIMAL output
    * column can never hash-match even when values are identical.
    * decimal→nearest-double is the same IEEE conversion in both
    * engines, so equality is preserved. */
  def d4(c: Column): Column = c.cast("decimal(18,4)").cast("double")

  /** DuckDB-oracle macros — ONE definition of the decimal-trap
    * incantation (SURVEY §7: DuckDB's decimal downcast truncates where
    * Spark rounds HALF_UP, and a physical DECIMAL output column breaks
    * the driver's hash). Oracle strings write the short forms and
    * [[SparkEntry.oracleSql]] expands them, so the next decimal-trap
    * fix is one edit here instead of one per oracle:
    *
    *   D4SUM(x) — the money-sum shape, [[d4]](SUM([[dec]](x)))
    *   D2(x)/D4(x)/D6(x) — ROUND to that scale, exact decimal(18,n),
    *     final cast to DOUBLE
    */
  def expandOracle(sql: String): String = {
    def expand(s: String, name: String, render: String => String): String = {
      val out = new StringBuilder
      var i = 0
      while (i < s.length) {
        val at = s.indexOf(name + "(", i)
        val boundary = at == 0 || (at > 0 && !s.charAt(at - 1).isLetterOrDigit)
        if (at < 0) { out.append(s.substring(i)); i = s.length }
        else if (!boundary) { out.append(s.substring(i, at + name.length)); i = at + name.length }
        else {
          out.append(s.substring(i, at))
          var depth = 0
          var j = at + name.length
          var end = -1
          while (end < 0 && j < s.length) {
            s.charAt(j) match {
              case '(' => depth += 1
              case ')' => depth -= 1; if (depth == 0) end = j
              case _ =>
            }
            j += 1
          }
          require(end > 0, s"unbalanced $name( in oracle SQL")
          out.append(render(s.substring(at + name.length + 1, end)))
          i = end + 1
        }
      }
      out.toString
    }
    def dN(n: Int)(x: String) =
      s"CAST(CAST(ROUND($x, $n) AS DECIMAL(18,$n)) AS DOUBLE)"
    var r = expand(sql, "D4SUM",
      x => dN(4)(s"SUM(CAST($x AS DECIMAL(18,6)))"))
    r = expand(r, "D2", dN(2))
    r = expand(r, "D4", dN(4))
    expand(r, "D6", dN(6))
  }

  /** Runs `body` with `confs` set on the session, then restores every
    * key as it was — a key that was unset is unset again — whether or
    * not `body` throws. */
  def withConf[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll
    val saved = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  def spark(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
