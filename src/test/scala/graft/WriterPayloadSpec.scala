package graft

import graft.catalog._
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** What graft hands Spark for every table write stays small: the write
  * specs and the writer factories serialize, with Spark's closure
  * serializer, to under 16 KiB each. The session Hadoop conf (1k+
  * entries, ~100 KB serialized) travels as a broadcast, once per write,
  * not inside each task's closure. The pin counts bytes, not time.
  */
class WriterPayloadSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val Limit = 16 * 1024

  private def assertSmall(what: String, o: AnyRef): Unit = {
    val n = org.apache.spark.SparkEnv.get.closureSerializer.newInstance().serialize(o).remaining()
    info(s"$what: $n bytes")
    assert(n < Limit, s"$what serializes to $n bytes (limit $Limit)")
  }

  private lazy val table: GraftTable = {
    val c = "graftpayloadcat"
    val wh = s"/tmp/graft_test_$c"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.conf.set(s"spark.sql.catalog.$c", "graft.catalog.RelativeCatalog")
    spark.conf.set(s"spark.sql.catalog.$c.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $c.p")
    spark.sql(s"CREATE TABLE $c.p.t (id BIGINT, day DATE, doc STRING) PARTITIONED BY (days(day)) " +
      "TBLPROPERTIES ('write.parquet.bloom-filter-columns'='id', " +
      "'write.target-file-size-bytes'='1048576')")
    spark.sessionState.catalogManager.catalog(c).asInstanceOf[TableCatalog]
      .loadTable(Identifier.of(Array("p"), "t")).asInstanceOf[GraftTable]
  }

  test("write specs serialize under 16 KiB, the conf broadcast once per spec") {
    val wh = table.ops.warehouse
    val key = StructType(Seq(table.schema()("id")))
    val specs = Seq(
      "fileSpec(table, rowSchema)" -> Writer.fileSpec(table, table.schema()),
      "fileSpec(meta, warehouse, schema)" ->
        Writer.fileSpec(table.meta, wh, table.schema()),
      "positionDeleteSpec" -> Writer.positionDeleteSpec(wh),
      "equalityDeleteSpec" -> Writer.equalityDeleteSpec(wh, key, List(1)))
    specs.foreach { case (what, s) => assertSmall(what, s) }
    // the table's bloom column rides on the spec, resolved on the driver
    assert(specs.head._2.bloomCols == Seq("id"))
    // the broadcast value is the full writer conf, schema included
    assert(specs.head._2.conf.value.value.get(org.apache.spark.sql.execution.datasources
      .parquet.ParquetWriteSupport.SPARK_ROW_SCHEMA) != null)
    assert(specs.map(_._2.conf.id).distinct.size == specs.size)
  }

  test("writer factories serialize under 16 KiB") {
    val schema = table.schema()
    assertSmall("GraftDataWriterFactory (GraftBatchWrite)",
      new GraftBatchWrite(table, "overwrite", () => Nil).createBatchWriterFactory(null))
    assertSmall("GraftDataWriterFactory (GraftDynamicOverwriteWrite)",
      new GraftDynamicOverwriteWrite(table, schema).createBatchWriterFactory(null))
    assertSmall("GraftDeltaWriterFactory",
      new GraftDeltaWrite(table, "delete", schema).createBatchWriterFactory(null))
    assertSmall("GraftStreamingWriterFactory",
      new GraftStreamingWrite(table, "q", schema).createStreamingWriterFactory(null))
  }
}
