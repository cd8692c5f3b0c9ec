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
  }
}
