package graft.catalog

import graft.meta.{DataFile, RelPaths, TableMeta}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.execution.datasources.GraftManifestIndex
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Storage-partitioned join support: when the table is identity-
  * partitioned and every (pruned) file is provably single-valued and
  * null-free on the partition columns — the invariant the fanout
  * writer maintains — the scan reports `KeyGroupedPartitioning` and
  * tags each input partition with its partition-key row. Two graft
  * tables partitioned on their join key then join WITHOUT any shuffle
  * (Spark aligns the key groups directly), which at 100 TB removes
  * the single most expensive stage of a fact-fact join.
  *
  * Gated on BOTH `spark.sql.sources.v2.bucketing.enabled` (Spark's
  * SPJ switch, default true in 4.x) and our own opt-in
  * `spark.graft.preserveDataGrouping` (default false, mirroring
  * Iceberg's preserve-data-grouping conf): reporting key-grouped
  * partitions changes task granularity to one-group-per-partition-
  * value — a full scan of a 100k-partition table would lose byte-based
  * bin-packing for no benefit — so the grouping is only preserved when
  * the session says the workload joins on partition keys.
  */
object SpjScan {

  val PreserveGroupingKey = "spark.graft.preserveDataGrouping"

  def tryBuild(table: GraftTable, options: CaseInsensitiveStringMap,
      required: StructType, pushedExprs: Seq[Expression],
      files: Seq[DataFile], spark: SparkSession): Option[Scan] = {
    if (!spark.conf.getOption(PreserveGroupingKey).exists(_.toBoolean))
      return None
    if (!spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled").exists(_.toBoolean))
      return None
    val meta = table.meta
    val spec = meta.spec.fields
    if (spec.isEmpty || files.isEmpty) return None
    if (!spec.forall(pf => pf.transform == "identity" || pf.transform == "days" ||
        pf.transform.startsWith("bucket[")))
      return None
    val sparkSchema = TableMeta.schemaToSpark(meta.schema)
    // (source column, transform, source type) per spec field
    val fields: Seq[(String, String, String, DataType)] = spec.flatMap { pf =>
      meta.schema.fields.find(_.id == pf.sourceId).flatMap { src =>
        sparkSchema.fields.find(_.name == src.name).map(f =>
          (src.name, pf.name, pf.transform, f.dataType))
      }
    }
    if (fields.size != spec.size) return None
    if (!fields.forall { case (_, _, t, dt) =>
      if (t == "days") dt.isInstanceOf[DateType] || dt.isInstanceOf[TimestampType]
      else if (t.startsWith("bucket[")) true // value comes from the stamped tuple
      else decodable(dt)
    }) return None

    // the file's partition value as a canonical string, or None when
    // uniformity can't be proven. days(ts) needs only the DAY of the
    // bounds to agree -- the timestamps themselves may differ
    def partValue(f: DataFile, c: String, pname: String, t: String): Option[String] = {
      if (t.startsWith("bucket[")) {
        // bucket membership is NOT provable from bounds; only the
        // writer-stamped tuple can serve it (absent on old files)
        return f.partition.get(pname)
      }
      if (!f.nullCount.get(c).contains(0L)) return None
      for {
        mn <- f.minBound.get(c)
        mx <- f.maxBound.get(c)
        v <- t match {
          case "days" =>
            val (dMn, dMx) = (mn.take(10), mx.take(10))
            if (dMn == dMx) Some(dMn) else None
          case _ => if (mn == mx) Some(mn) else None
        }
      } yield v
    }

    val keyed: Seq[Option[Seq[String]]] = files.map { f =>
      val vs = fields.map { case (c, pname, t, _) => partValue(f, c, pname, t) }
      if (vs.forall(_.isDefined)) Some(vs.map(_.get)) else None
    }
    if (keyed.exists(_.isEmpty)) return None

    val groups: Seq[(InternalRow, Seq[DataFile])] = files.zip(keyed.map(_.get))
      .groupBy(_._2)
      .toSeq
      .sortBy(_._1.mkString(""))
      .map { case (key, fs) =>
        (new GenericInternalRow(key.zip(fields).map { case (s, (_, _, t, dt)) =>
          if (t == "days") java.time.LocalDate.parse(s).toEpochDay
          else if (t.startsWith("bucket[")) s.toInt
          else decode(s, dt)
        }.toArray[Any]), fs.map(_._1))
      }
    val clustering = fields.map { case (c, _, t, _) =>
      if (t == "days") Expressions.days(c)
      else if (t.startsWith("bucket["))
        Expressions.bucket(t.stripPrefix("bucket[").stripSuffix("]").toInt, c)
      else Expressions.identity(c): org.apache.spark.sql.connector.expressions.Expression
    }
    Some(new SpjScan(table, options, required, pushedExprs, clustering, groups))
  }

  private def decodable(dt: DataType): Boolean = dt match {
    case _: IntegerType | _: LongType | _: ShortType | _: ByteType |
         _: StringType | _: DateType | _: TimestampType => true
    case _ => false
  }

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)

  /** String-encoded bound → catalyst value (inverse of the stats
    * encoding in [[Writer.entryOf]]). */
  private def decode(s: String, dt: DataType): Any = dt match {
    case _: IntegerType => s.toInt
    case _: LongType => s.toLong
    case _: ShortType => s.toShort
    case _: ByteType => s.toByte
    case _: StringType => UTF8String.fromString(s)
    case _: DateType => java.time.LocalDate.parse(s).toEpochDay.toInt
    case _: TimestampType =>
      val ins = java.time.Instant.from(tsFmt.parse(s))
      ins.getEpochSecond * 1000000L + ins.getNano / 1000L
    case other => throw new IllegalStateException(s"undecodable $other")
  }
}

class SpjScan(table: GraftTable, options: CaseInsensitiveStringMap,
    required: StructType, pushedExprs: Seq[Expression],
    clustering: Seq[org.apache.spark.sql.connector.expressions.Expression],
    groups: Seq[(InternalRow, Seq[DataFile])])
  extends Scan with Batch with SupportsReportPartitioning {

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  /** GraftTable always advertises MICRO_BATCH_READ, so every scan the
    * builder can route to must serve `readStream` — a session that
    * enabled storage-partitioned joins must not lose the streaming
    * surface (same contract as [[MorScan]]). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(table, options, required, pushedExprs)

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(clustering.toArray, groups.size)

  private def delegate(files: Seq[DataFile]): Scan =
    GraftManifestIndex.delegateScan(SparkSession.active, options, table.schema(),
      files.map(f => (RelPaths.absolutize(table.ops.warehouse, f.path), f.bytes)),
      pushedExprs, required)

  override def planInputPartitions(): Array[InputPartition] =
    groups.flatMap { case (key, fs) =>
      delegate(fs).toBatch.planInputPartitions().map(p => KeyedPartition(key, p))
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new UnwrapKeyFactory(delegate(groups.flatMap(_._2)).toBatch.createReaderFactory())
}

/** A delegate input partition tagged with its partition-key row. */
case class KeyedPartition(key: InternalRow, inner: InputPartition)
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

class UnwrapKeyFactory(delegate: PartitionReaderFactory)
  extends PartitionReaderFactory {
  private def unwrap(p: InputPartition): InputPartition = p match {
    case KeyedPartition(_, inner) => inner
    case other => other
  }
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    delegate.createReader(unwrap(p))
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    delegate.createColumnarReader(unwrap(p))
  override def supportColumnarReads(p: InputPartition): Boolean =
    delegate.supportColumnarReads(unwrap(p))
}
