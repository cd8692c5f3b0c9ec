package graft

import org.scalatest.funsuite.AnyFunSuite

/** Merge-on-read DELETE, UPDATE and MERGE on a partitioned table, once
  * per catalog. A merge-on-read DELETE writes only
  * `(__row_operation, _file, _pos)` rows, so the write layout may not
  * cluster them on the partition column. Every step's rows are checked
  * against a plain-Scala model of the table.
  */
class MorPartitionedDmlSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val kinds = Seq(
    "path" -> ("mpdPath", "graft.catalog.RelativeCatalog"),
    "jdbc" -> ("mpdJdbc", "graft.catalog.JdbcRelativeCatalog"))

  for ((kind, (c, cls)) <- kinds)
    test(s"multi-partition MOR DELETE, then UPDATE and MERGE, on a partitioned table ($kind)") {
      val wh = s"/tmp/graft_test_$c"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
      spark.conf.set(s"spark.sql.catalog.$c", cls)
      spark.conf.set(s"spark.sql.catalog.$c.warehouse", wh)
      spark.sql(s"CREATE NAMESPACE $c.m")
      val t = s"$c.m.t"
      spark.sql(s"CREATE TABLE $t (id BIGINT, k INT, m INT) PARTITIONED BY (k) TBLPROPERTIES (" +
        "'write.delete.mode'='merge-on-read', 'write.update.mode'='merge-on-read', " +
        "'write.merge.mode'='merge-on-read')")
      spark.sql(s"INSERT INTO $t SELECT id, CAST(id % 4 AS INT), CAST(id % 13 AS INT) FROM range(0, 200)")
      // id -> (k, m)
      var model: Map[Long, (Int, Int)] = (0L until 200L).map(id => id -> ((id % 4).toInt, (id % 13).toInt)).toMap
      def check(step: String): Unit = {
        val rows = spark.sql(s"SELECT id, k, m FROM $t").collect()
          .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
        assert(rows == model, s"after $step")
      }

      // every partition, predicate on a non-partition column
      spark.sql(s"DELETE FROM $t WHERE id % 7 = 0")
      model = model.filter { case (id, _) => id % 7 != 0 }
      check("DELETE WHERE id % 7 = 0")

      // two partitions named by the partition column
      spark.sql(s"DELETE FROM $t WHERE k IN (1, 2) AND m < 3")
      model = model.filter { case (_, (k, m)) => !(Set(1, 2)(k) && m < 3) }
      check("DELETE WHERE k IN (1, 2) AND m < 3")

      spark.sql(s"UPDATE $t SET m = m + 100 WHERE id % 5 = 0")
      model = model.map { case (id, (k, m)) => id -> ((k, if (id % 5 == 0) m + 100 else m)) }
      check("UPDATE")

      spark.sql(s"MERGE INTO $t t USING (SELECT id, CAST(id % 4 AS INT) AS k, -1 AS m " +
        "FROM range(180, 230)) s ON t.id = s.id " +
        "WHEN MATCHED AND s.id % 2 = 0 THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET m = s.m " +
        "WHEN NOT MATCHED THEN INSERT *")
      val src = (180L until 230L).map(id => id -> (((id % 4).toInt, -1))).toMap
      model = model.flatMap { case (id, row) =>
        src.get(id) match {
          case Some(_) if id % 2 == 0 => None
          case Some((_, m)) => Some(id -> ((row._1, m)))
          case None => Some(id -> row)
        }
      } ++ src.filter { case (id, _) => !model.contains(id) }
      check("MERGE")
    }
}
