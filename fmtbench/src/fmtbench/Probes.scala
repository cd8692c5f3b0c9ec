package fmtbench

import java.nio.file.{Files, Path, Paths}
import graft.catalog.{GraftTable, TableOps}
import graft.meta.TableMeta
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}

object Catalogs {
  /** Register a Hadoop (path) catalog `name` over `warehouse`. */
  def hadoop(spark: SparkSession, name: String, warehouse: Path): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", "graft.catalog.RelativeCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse.toString)
  }

  /** Register a JDBC catalog `name` over `warehouse`, its pointer rows in
    * an embedded Derby database at `db`. */
  def jdbc(spark: SparkSession, name: String, warehouse: Path, db: Path): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", "graft.catalog.JdbcRelativeCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse.toString)
    spark.conf.set(s"spark.sql.catalog.$name.uri", s"jdbc:derby:$db;create=true")
  }

  def catalog(spark: SparkSession, name: String): TableCatalog =
    spark.sessionState.catalogManager.catalog(name).asInstanceOf[TableCatalog]

  def ident(table: String): (String, Identifier) = {
    val p = table.split('.')
    (p.head, Identifier.of(p.slice(1, p.length - 1), p.last))
  }

  def load(spark: SparkSession, table: String): GraftTable = {
    val (c, id) = ident(table)
    catalog(spark, c).loadTable(id).asInstanceOf[GraftTable]
  }
}

/** Per-layer measurements taken from outside the program: timed calls
  * into each layer's public functions, and the files the layers wrote. */
object Probes {
  private def medianMs(reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    })

  /** Warehouse bytes on disk under the tables' directories ÷ data-file
    * bytes their current snapshots reference. */
  def spaceAmp(spark: SparkSession, tables: Seq[String]): Double = {
    val ts = tables.map(Catalogs.load(spark, _))
    val disk = ts.map(t => Fs.treeBytes(Paths.get(t.ops.tableDir))).sum
    val data = ts.map(_.readSnapshot.map(_.dataBytes).getOrElse(0L)).sum
    disk.toDouble / (data max 1L)
  }

  /** The metadata file of `version`: `v<N>.metadata.json` for the path
    * catalog, `v<N>-<tag>.metadata.json` for the JDBC catalog (whose
    * current pointer lives in the database). */
  def metadataFile(ops: TableOps, version: Int): Option[Path] = {
    val name = s"v$version(-[^.]+)?(\\.gz)?\\.metadata\\.json".r
    Fs.list(Paths.get(ops.metadataDir)).find(p => name.matches(p.getFileName.toString))
  }

  /** catalog, tableops, meta and scan probes for one table. */
  def tableLayers(spark: SparkSession, table: String): Map[String, Double] = {
    val (c, id) = Catalogs.ident(table)
    val cat = Catalogs.catalog(spark, c)
    val loadMs = medianMs(5)(cat.loadTable(id))
    val t = cat.loadTable(id).asInstanceOf[GraftTable]
    val refreshMs = medianMs(5)(t.ops.refresh())
    val version = t.ops.findVersion()
    val file = metadataFile(t.ops, version).getOrElse(sys.error(s"no metadata file for v$version"))
    val json = t.ops.readMetadataString(file.toString)
    val parseMs = medianMs(5)(TableMeta.fromJson(json))
    val meta = TableMeta.fromJson(json)
    val serMs = medianMs(5)(TableMeta.toJson(meta))
    val snap = t.readSnapshot
    Map(
      "catalog.load_table_ms" -> loadMs,
      "tableops.refresh_ms" -> refreshMs,
      "tableops.metadata_versions" -> version.toDouble,
      "meta.metadata_json_bytes" -> Files.size(file).toDouble,
      "meta.parse_ms" -> parseMs,
      "meta.serialize_ms" -> serMs,
      "meta.snapshots" -> meta.snapshots.size.toDouble,
      "meta.inline_file_entries" -> meta.snapshots.map(s => s.files.size + s.deleteFiles.size).sum.toDouble,
      "scan.files_in_snapshot" -> snap.map(_.dataFileCount).getOrElse(0).toDouble,
      "mor.live_delete_files" -> snap.map(_.deleteFiles.size).getOrElse(0).toDouble)
  }

  final case class Commit(dataFiles: Double, dataBytes: Double, metadataBytes: Double,
      deleteFiles: Double, deleteBytes: Double)

  /** After a commit (traced runs): what it added, from the new snapshot
    * and the size of the metadata file the commit wrote. */
  def commitStats(spark: SparkSession, table: String): Commit = {
    val t = Catalogs.load(spark, table)
    val snap = t.readSnapshot
    val sum = snap.map(_.summary).getOrElse(Map.empty)
    def n(k: String) = sum.get(k).map(_.toDouble).getOrElse(0.0)
    val metaBytes = metadataFile(t.ops, t.metaVersion).map(f => Files.size(f).toDouble).getOrElse(0.0)
    val parentDeletes = snap.flatMap(_.parentId).flatMap(t.meta.snapshot)
      .map(_.deleteFiles.map(_.path).toSet).getOrElse(Set.empty)
    val newDeletes = snap.map(_.deleteFiles.filterNot(f => parentDeletes(f.path))).getOrElse(Nil)
    Commit(n("added-data-files"), n("added-files-size"), metaBytes,
      newDeletes.size.toDouble, newDeletes.map(_.bytes).sum.toDouble)
  }
}
