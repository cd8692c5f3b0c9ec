package org.apache.spark.sql

import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Visibility shim: a DataFrame over a DSv2 `Table` that no catalog
  * names needs `Dataset.ofRows`, which is private[sql] in Spark 4. The
  * relation plans its scan through the table's own `ScanBuilder`, so
  * pushdown, column pruning and metadata columns apply as for a
  * catalog read.
  */
object GraftRelationShim {
  def frame(spark: SparkSession, table: Table): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      DataSourceV2Relation.create(table, None, None))
}
