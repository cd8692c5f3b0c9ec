package org.apache.spark.sql.execution.datasources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A [[PartitioningAwareFileIndex]] built straight from graft manifest
  * metadata — (absolute path, exact byte length) pairs the catalog
  * already committed — with ZERO filesystem calls.
  *
  * Why (optimization round 21, opt guide §6): every catalog scan built
  * its parquet delegate through Spark's `ParquetTable`, whose
  * `InMemoryFileIndex` re-LISTS every path on construction; past 32
  * paths that listing is a distributed job
  * (`spark.sql.sources.parallelPartitionDiscovery.threshold`), so each
  * scan of an 80-file table paid an 80-task no-op job — and the
  * delegate was rebuilt (planInputPartitions / createReaderFactory /
  * estimateStatistics / pushdown probe), multiplying it. Manifest
  * metadata exists precisely so readers never list directories; this
  * index hands Spark the committed (path, size) set directly. At
  * 100 TB the same construction avoids object-store LIST/HEAD storms
  * at planning time.
  *
  * Invariant: `bytes` must be the file's exact length (parquet footers
  * are located from the end). Writer records lengths from the
  * filesystem at commit; any non-positive length (defensive default in
  * old metadata) falls back to a real getFileStatus for that file.
  *
  * Fabricated FileStatus fields: modification time 0 (no declared
  * query reads `_metadata.file_modification_time`), block locations
  * absent (locality hints are meaningless on object storage and in
  * local mode).
  */
class GraftManifestIndex(
    spark: SparkSession,
    statuses: Seq[FileStatus],
    schema: StructType)
  extends PartitioningAwareFileIndex(spark, Map.empty, Some(schema), NoopCache) {

  override def rootPaths: Seq[Path] = statuses.map(_.getPath)

  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec

  override protected def leafFiles: scala.collection.mutable.LinkedHashMap[Path, FileStatus] =
    scala.collection.mutable.LinkedHashMap(statuses.map(s => s.getPath -> s): _*)

  override protected def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    statuses.groupBy(_.getPath.getParent).view.mapValues(_.toArray).toMap

  override def refresh(): Unit = ()
}

object GraftManifestIndex {

  /** The parquet delegate over committed files — the one place every
    * DSv2 graft scan (the batch and streaming table scans, the
    * storage-partitioned scan, and the three row-level rewrite scans)
    * hands a manifest-known (absolute path, exact bytes) set to Spark's
    * vectorized parquet reader: pushes `filters` (row-group skipping;
    * Nil pushes nothing), prunes to `required`, builds. */
  def delegateScan(
      spark: SparkSession,
      options: CaseInsensitiveStringMap,
      schema: StructType,
      files: Seq[(String, Long)],
      filters: Seq[Expression],
      required: StructType): Scan = {
    val sb = parquetScanBuilder(spark, options, schema, files)
    sb.pushFilters(filters)
    sb.pruneColumns(required)
    sb.build()
  }

  /** Parquet ScanBuilder over a manifest-known file set; byte-for-byte
    * the ScanBuilder `ParquetTable(...).newScanBuilder(options)` would
    * return (same schema/dataSchema/options wiring — `mergedOptions`
    * merges the same map with itself), minus the file listing. */
  private def parquetScanBuilder(
      spark: SparkSession,
      options: CaseInsensitiveStringMap,
      schema: StructType,
      files: Seq[(String, Long)]): ParquetScanBuilder = {
    // qualified exactly like InMemoryFileIndex's listing would produce
    // (allFiles() qualifies rootPaths before the leafFiles lookup, so
    // unqualified keys would silently resolve to zero files)
    val hconf = spark.sparkContext.hadoopConfiguration
    val statuses = files.map { case (p, len) =>
      val path = qualify(hconf, p)
      if (len > 0) new FileStatus(len, false, 1, 134217728L, 0L, path)
      else path.getFileSystem(hconf).getFileStatus(path) // defaulted length: one real stat beats a wrong one
    }
    ParquetScanBuilder(spark,
      new GraftManifestIndex(spark, statuses, schema), schema, schema, options)
  }

  /** An absolute path qualified the way the delegate's index keys it:
    * the `PartitionedFile`s a delegate plans carry exactly
    * `SparkPath.fromPath(qualify(hconf, p))`. */
  def qualify(hconf: org.apache.hadoop.conf.Configuration, p: String): Path = {
    val raw = new Path(p)
    raw.getFileSystem(hconf).makeQualified(raw)
  }

  /** Schema-only ScanBuilder (no files): for pushdown PROBES that
    * consult the data schema to split residual vs pushed predicates
    * but never plan partitions — constructing these through
    * `ParquetTable` forced a full listing of the table's current
    * snapshot just to throw it away. */
  def probeScanBuilder(
      spark: SparkSession,
      options: CaseInsensitiveStringMap,
      schema: StructType): ParquetScanBuilder =
    parquetScanBuilder(spark, options, schema, Nil)
}
