package graft

import org.apache.spark.sql.SparkSession

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val sf = "/root/testdata/sf0.001"

  /** `t.currentFiles`: every data file of the table's current snapshot,
    * chunked entries included (`Snapshot.files` alone holds only the
    * entries not yet written to a chunk). */
  implicit class TableFiles(private val t: graft.catalog.GraftTable) extends AnyVal {
    def currentFiles: List[graft.meta.DataFile] = t.ops.allFiles(t.readSnapshot.get)

    /** Every current row's `id` (a BIGINT column) with its row identity
      * — (relative data file path, parquet row index) — read from the
      * data files as plain parquet. */
    def positionsById: Map[Long, (String, Long)] = currentFiles.flatMap { f =>
      spark.read.parquet(graft.meta.RelPaths.absolutize(t.ops.warehouse, f.path))
        .selectExpr("id", "_metadata.row_index").collect()
        .map(r => r.getLong(0) -> (f.path, r.getLong(1)))
    }.toMap

    /** Commits one `delete` snapshot that adds a position-delete file
      * per entry of `positions` (each a list of row identities) and, when
      * `equalityIds` is non-empty, one equality-delete file on `id`. */
    def commitDeletes(positions: Seq[Seq[(String, Long)]], equalityIds: Seq[Long] = Nil): Unit = {
      import graft.catalog.{Mor, Staging, Writer}
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.StructType
      import scala.jdk.CollectionConverters._
      val wh = t.ops.warehouse
      val staging = Staging(t.meta, wh, "deletes")
      def write(rows: Seq[Row], schema: StructType, spec: graft.catalog.FileSpec) =
        Writer.writeFiles(spark.createDataFrame(rows.asJava, schema).coalesce(1), staging, spec)
      val pos = positions.flatMap(ps => write(ps.map(p => Row(p._1, p._2)), Mor.deleteSchema,
        Writer.positionDeleteSpec(wh)))
      val key = StructType(Seq(t.schema()("id")))
      val eq = if (equalityIds.isEmpty) Nil else write(equalityIds.map(Row(_)), key,
        Writer.equalityDeleteSpec(wh, key, List(t.meta.schema.fields.find(_.name == "id").get.id)))
      Writer.commitSnapshot(t, Nil, overwrite = false, operation = "delete",
        carryover = Nil, newDeletes = (pos ++ eq).toList)
    }
  }
}
