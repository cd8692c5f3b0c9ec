package graft.ops

import org.apache.spark.sql.SparkSession

/** The catalog prologue every catalog-backed operator shares. */
private[ops] object Warehouse {

  /** Short tag of a fixture dir: keeps each scale's catalogs and
    * warehouses apart. */
  def dirTag(dir: String): String = Integer.toHexString(dir.hashCode).takeRight(6)

  /** Registers graft catalog `name` on `spark` and returns the name: a
    * path catalog rooted at `warehouse` (by default
    * `/tmp/graft_wh_<name>`), or a JDBC catalog over `jdbcUri`. With
    * `ns`, that namespace is dropped with its tables and created empty.
    * Spark caches a catalog instance per (session, name), and Verify
    * runs several queries at once, so each query keeps its own name and
    * warehouse. */
  def withGraftCatalog(spark: SparkSession, name: String, ns: Option[String] = None,
      warehouse: Option[String] = None, jdbcUri: Option[String] = None): String = {
    spark.conf.set(s"spark.sql.catalog.$name",
      if (jdbcUri.isDefined) "graft.catalog.JdbcRelativeCatalog" else "graft.catalog.RelativeCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse.getOrElse(s"/tmp/graft_wh_$name"))
    jdbcUri.foreach(uri => spark.conf.set(s"spark.sql.catalog.$name.uri", uri))
    ns.foreach { n =>
      spark.sql(s"DROP NAMESPACE IF EXISTS $name.$n CASCADE")
      spark.sql(s"CREATE NAMESPACE $name.$n")
    }
    name
  }

  /** Deletes `p` and everything under it; a missing path is a no-op. */
  def rmTree(p: String): Unit = {
    val root = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(root))
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
  }
}
