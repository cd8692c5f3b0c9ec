package graft.catalog

import graft.meta._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Append/overwrite writer: stage parquet (each task reports its
  * files' stats in its commit message) → OCC commit with retry (the
  * Spark-native equivalent of the reference's insert flow, SURVEY
  * §3.2: executors write bytes at absolute paths, metadata records
  * relative paths, the driver commits v(N+1) with atomic rename and
  * retries on conflict).
  */
object Writer {

  /** Translate a v1 source Filter to a Column predicate (used by the
    * COW delete path); None = untranslatable → canDeleteWhere false.
    */
  def filterToColumn(f: org.apache.spark.sql.sources.Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case And(l, r) => for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case Or(l, r) => for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case Not(c) => filterToColumn(c).map(!_)
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }

  /** The default partition spec's transforms as (partition-field name,
    * Column) — shared by the write-side clustering and the
    * partition-statistics pass so both group rows identically. */
  def specTransformExprs(meta: TableMeta): Seq[(String, org.apache.spark.sql.Column)] =
    meta.spec.fields.flatMap { pf =>
      meta.schema.fields.find(_.id == pf.sourceId).map { src =>
        val srcDt = org.apache.spark.sql.types.DataType.fromJson(src.dataType)
        // UTC calendar date of the source value, independent of
        // spark.sql.session.timeZone: TIMESTAMP stores UTC micros, so
        // floor-divide them to epoch days (exactly the executor-side
        // KeySpec path, GraftFunctions.daysOf); DATE and TIMESTAMP_NTZ
        // casts are tz-free already. A session-tz `cast("date")` on
        // TIMESTAMP would disagree with KeySpec-stamped partition
        // tuples under any non-UTC session.
        lazy val utcDate = srcDt match {
          case _: org.apache.spark.sql.types.DateType => col(src.name)
          case _: org.apache.spark.sql.types.TimestampNTZType =>
            col(src.name).cast("date")
          case _ => date_add(lit(java.sql.Date.valueOf("1970-01-01")),
            floor(unix_micros(col(src.name).cast("timestamp")) / lit(86400000000L)).cast("int"))
        }
        pf.name -> (pf.transform match {
          case "days" => datediff(utcDate, lit("1970-01-01").cast("date"))
          case "years" => year(utcDate) - lit(1970)
          case "months" =>
            (year(utcDate) - lit(1970)) * lit(12) + month(utcDate) - lit(1)
          case "hours" => srcDt match {
            case _: org.apache.spark.sql.types.DateType =>
              datediff(col(src.name), lit("1970-01-01").cast("date")).cast("long") * lit(24L)
            case _: org.apache.spark.sql.types.TimestampNTZType =>
              // tz-free: whole days from the date part, hour from the
              // (wall-clock) time part
              datediff(col(src.name).cast("date"), lit("1970-01-01").cast("date")).cast("long") * lit(24L) +
                hour(col(src.name)).cast("long")
            case _ =>
              // exact for any in-range micros: both operands < 2^53 and
              // non-integer quotients sit ≥ 2.8e-10 from integers, far
              // outside double rounding error
              floor(unix_micros(col(src.name).cast("timestamp")) / lit(3600000000L)).cast("long")
          }
          case t if t.startsWith("bucket[") =>
            pmod(hash(col(src.name)), lit(t.stripPrefix("bucket[").stripSuffix("]").toInt))
          case t if t.startsWith("truncate[") =>
            val w = t.stripPrefix("truncate[").stripSuffix("]").toInt
            srcDt match {
              case _: org.apache.spark.sql.types.StringType =>
                substring(col(src.name), 1, w)
              case _ => col(src.name) - pmod(col(src.name), lit(w))
            }
          case _ => col(src.name)
        })
      }
    }

  /** Iceberg's write-audit-publish gate: when the table opts in
    * (`write.wap.enabled=true`) AND the session carries a
    * `spark.wap.id`, SQL writes commit STAGED snapshots that the table
    * state doesn't advance to until `CALL system.publish_changes`.
    * Read at the SQL write paths only — maintenance (compaction,
    * rewrites, stats) never stages: it moves bytes, not rows, and must
    * land regardless of a lingering session wap id. */
  def sessionWapId(meta: TableMeta): Option[String] =
    if (!meta.properties.get("write.wap.enabled").contains("true")) None
    else org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(s => Option(s.conf.get("spark.wap.id", null)))
      .map(_.trim).filter(_.nonEmpty)

  def append(table: GraftTable, data: DataFrame, overwrite: Boolean,
      operation: String = null, carryover: Seq[graft.meta.DataFile] = Nil,
      branch: Option[String] = None,
      validateFrom: Option[Option[Long]] = None,
      clearDeletes: Boolean = false,
      wapId: Option[String] = None): Unit = {
    val (staging, newFiles) = stageFiles(table.meta, table.ops.warehouse, data)
    staging.discardOnFailure(commitSnapshot(table, newFiles, overwrite, operation, carryover, branch,
      validateFrom, clearDeletes = clearDeletes, wapId = wapId))
  }

  /** Stage `data` as committed-shape parquet under `<table>/data/<uuid>`
    * WITHOUT committing: align to the schema (field-id stamping),
    * cluster + fan out by the partition spec; the writer reports each
    * file's stats and partition tuple. Returns the staging dir (the
    * files stay in place on success, metadata just starts referencing
    * them) and the reported file entries. Shared by the normal append
    * path and the atomic CTAS/RTAS staged commit ([[GraftStagedTable]]).
    */
  def stageFiles(meta: TableMeta, warehouse: String,
      data: DataFrame): (Staging, List[DataFile]) = {
    val spark = data.sparkSession
    val schema = TableMeta.schemaToSpark(meta.schema)

    // align column order/types to the table schema; the alias carries
    // the field-id metadata so the parquet writer stamps ids into the
    // file schema (what makes id-based read resolution possible)
    val aligned = data.select(schema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name, f.metadata)).toIndexedSeq: _*)

    // cluster rows by the partition spec, sort the key to the front so
    // same-partition rows are contiguous per task, then fan out below:
    // the writer rolls to a new file on every key change, so files are
    // partition-LOCAL by construction (not merely co-located modulo
    // hash collisions) — tight bounds, exact partition stats, and the
    // uniformity invariant runtime group filtering needs
    val specExprs = specTransformExprs(meta).map(_._2)
    val sortCols = meta.sortOrders.find(_.orderId == meta.defaultSortOrderId)
      .map(_.fields).getOrElse(Nil).flatMap { sf =>
        meta.schema.fields.find(_.id == sf.sourceId).map { src =>
          if (sf.direction == "desc") col(src.name).desc else col(src.name).asc
        }
      }
    // write.distribution-mode=range RANGE-partitions by (partition key,
    // sort key) instead of hashing the partition key: output files get
    // globally disjoint sort-key ranges — tight min/max bounds, so a
    // sort-key predicate skips all but O(1) files. Hash stays the
    // default (no sampling pass, no skew sensitivity). Fanout keeps
    // files partition-local either way.
    val rangeMode = meta.properties.get("write.distribution-mode").contains("range")
    // the clustering exchange is PINNED to the session's shuffle
    // partition count (REPARTITION_BY_NUM) so AQE cannot coalesce it:
    // the fanout writer below rolls a new file per partition key, so
    // output file count is fixed by the key set regardless of task
    // count — coalescing a small insert to one task buys nothing and
    // serializes every per-file writer open/flush (measured: an
    // 84-month insert wrote its 84 files in ONE 1.0 s task; 32-way it
    // is ~0.1 s). At scale the pinned count is the ops-tuned
    // spark.sql.shuffle.partitions, exactly the non-coalesced plan.
    val shufN = spark.sessionState.conf.numShufflePartitions
    val clustered =
      if (specExprs.nonEmpty)
        if (rangeMode) aligned.repartitionByRange(shufN, (specExprs ++ sortCols).toIndexedSeq: _*)
        else aligned.repartition(shufN, specExprs: _*)
      else if (rangeMode && sortCols.nonEmpty) aligned.repartitionByRange(shufN, sortCols: _*)
      else aligned
    val sorted =
      if (specExprs.nonEmpty)
        clustered.sortWithinPartitions((specExprs ++ sortCols).toIndexedSeq: _*)
      else if (sortCols.nonEmpty) clustered.sortWithinPartitions(sortCols: _*)
      else clustered

    val staging = Staging(meta, warehouse, "data")
    val files =
      if (specExprs.isEmpty) writeFiles(sorted, staging, fileSpec(meta, warehouse, schema))
      else {
        // one TRAILING struct of the transformed key values: it already
        // IS the partition tuple, so the writer compares it raw
        val keyed = sorted.withColumn("__gpk", struct(specExprs.toIndexedSeq: _*))
        writeFiles(keyed, staging, fileSpec(meta, warehouse, schema,
          keys = Seq(RawKey(1, keyed.schema.last.dataType)), dataLeading = true))
      }
    (staging, files)
  }

  /** Write `data` — rows in `spec.schema` order, plus the trailing key
    * columns `spec.keys` address — through one [[GraftDataWriter]] per
    * task under `staging`, and return the entries the tasks reported.
    * The V1 write path: appends, CTAS/RTAS, compactions, and the
    * delete files of `deleteWhere` and `rewrite_position_deletes`.
    */
  def writeFiles(data: DataFrame, staging: Staging, spec: FileSpec): List[DataFile] = {
    val dir = staging.abs
    staging.discardOnFailure(data.queryExecution.toRdd.mapPartitions {
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
        val tc = org.apache.spark.TaskContext.get()
        val w = new GraftDataWriter(dir, s"part-${tc.partitionId()}-${tc.taskAttemptId()}", spec)
        var ok = false
        try {
          it.foreach(w.write)
          val m = w.commit()
          ok = true
          Iterator.single(m.files)
        }
        finally if (!ok) w.abort()
    }.collect().toList.flatten)
  }

  /** `write.parquet.bloom-filter-columns` table property: columns that
    * get a parquet bloom filter stamped per row group. At 100 TB a
    * point lookup on a high-cardinality NON-sort column (doc_id,
    * user_id…) can't be served by min/max bounds — every file's range
    * covers it — but the bloom lets parquet-mr's row-group filter drop
    * whole row groups on the pushed equality predicate with no false
    * negatives.
    */
  private def bloomColumns(meta: TableMeta): Seq[String] =
    meta.properties.get("write.parquet.bloom-filter-columns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)

  /** Hadoop conf a [[GraftDataWriter]] needs to drive Spark's
    * ParquetWriteSupport outside a FileFormatWriter (the same settings
    * ParquetFileFormat.prepareWrite would install).
    */
  def writerHadoopConf(spark: org.apache.spark.sql.SparkSession,
      schema: StructType): org.apache.hadoop.conf.Configuration = {
    val conf = spark.sessionState.newHadoopConf()
    org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
      .setSchema(schema, conf)
    conf.set("spark.sql.parquet.writeLegacyFormat", "false")
    conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    conf.set("spark.sql.parquet.binaryAsString", "false")
    conf.set("spark.sql.parquet.int96AsTimestamp", "true")
    conf.set("spark.sql.caseSensitive", "false")
    conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    conf.set("spark.sql.parquet.fieldId.read.enabled", "false")
    conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    conf.set("spark.sql.parquet.variant.annotateLogicalType.enabled", "false")
    conf
  }

  /** `write.target-file-size-bytes` table property (no cap if unset). */
  private def targetFileSize(meta: TableMeta): Long =
    meta.properties.get("write.target-file-size-bytes")
      .flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(Long.MaxValue)

  /** A plan-derived write schema with the table's field ids re-stamped
    * by name: plan schemas lose the id metadata, and every data file
    * must carry ids for id-based read resolution. Columns the table
    * doesn't have (rewrite-internal ones) keep their own metadata. */
  private def withFieldIds(table: GraftTable, rowSchema: StructType): StructType = {
    val metaByName = table.schema().fields.map(f => f.name -> f.metadata).toMap
    StructType(rowSchema.fields.map(f =>
      metaByName.get(f.name).map(m => f.copy(metadata = m)).getOrElse(f)))
  }

  /** The session's Hadoop conf (1k+ entries, ~100 KB serialized)
    * broadcast ONCE per write spec: tasks carry the small broadcast
    * handle and each executor fetches and deserializes the conf once,
    * instead of every task deserializing it from its closure (Spark's
    * parquet scans ship their conf the same way). The ContextCleaner
    * reclaims it once the spec is unreachable. */
  def broadcastConf(conf: org.apache.hadoop.conf.Configuration)
      : Broadcast[org.apache.spark.util.SerializableConfiguration] =
    org.apache.spark.sql.SparkSession.active.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(conf))

  private def confFor(schema: StructType) =
    broadcastConf(writerHadoopConf(org.apache.spark.sql.SparkSession.active, schema))

  /** The data-file spec of every table write: the table's target file
    * size, bloom columns and partition names. `schema` must already
    * carry the field ids. */
  def fileSpec(meta: TableMeta, warehouse: String, schema: StructType,
      keys: Seq[KeySpec] = Nil, dataLeading: Boolean = false): FileSpec =
    FileSpec(schema, confFor(schema), warehouse,
      keys = keys, partitionNames = meta.spec.fields.map(_.name),
      targetBytes = targetFileSize(meta), dataLeading = dataLeading,
      bloomCols = bloomColumns(meta))

  /** [[fileSpec]] for a DSv2 writer: ids re-stamped onto the plan's row
    * schema, rolling on the transform-aware partition keys. */
  def fileSpec(table: GraftTable, rowSchema: StructType): FileSpec = {
    val schema = withFieldIds(table, rowSchema)
    fileSpec(table.meta, table.ops.warehouse, schema, KeySpec.forSpec(table, schema))
  }

  /** Position-delete files: `(file_path, pos)` rows, one file per task,
    * and full-length `file_path` bounds — scan-side delete pruning
    * needs a real range, and paths are ~100 chars, not documents. */
  def positionDeleteSpec(warehouse: String): FileSpec =
    FileSpec(Mor.deleteSchema, confFor(Mor.deleteSchema), warehouse,
      exactBoundCols = Set("file_path"))

  /** Equality-delete files over the key columns `schema` (field ids
    * `ids`), one file per task. */
  def equalityDeleteSpec(warehouse: String, schema: StructType, ids: List[Int]): FileSpec =
    FileSpec(schema, confFor(schema), warehouse, equalityIds = Some(ids))

  /** Above this many staged files the footer pass DISTRIBUTES over the
    * cluster: a 1M-file 100 TB import's footer reads are executor
    * work, not a 16-thread driver bottleneck. Below it the threaded
    * driver pool wins (no job-scheduling overhead on the common
    * few-hundred-file commit). */
  val DistributedFooterThreshold: Int = 10000

  /** Entries for parquet files graft did NOT write (`add_files`
    * imports), from their footers: the same [[entryOf]] encoding the
    * writer applies to the footer it just wrote. */
  def collectStatsFromFooters(schema: StructType, warehouse: String,
      stagingAbs: String, distributeAbove: Int = DistributedFooterThreshold): List[DataFile] = {
    val conf = Io.hadoopConf()
    val files = Io.walkFiles(stagingAbs).filter(_.endsWith(".parquet")).toList
    if (files.size > distributeAbove) {
      // same per-file footer work, executor-side; collect preserves
      // partition order, so the DataFile list is identical to the
      // driver pool's (spec-pinned)
      val spark = org.apache.spark.sql.SparkSession.active
      val bConf = broadcastConf(conf)
      val parts = math.max(1, math.min(files.size / 256 + 1,
        spark.sparkContext.defaultParallelism * 4))
      spark.sparkContext.parallelize(files, parts)
        .map(p => statsOfFile(p, schema, warehouse, bConf.value.value))
        .collect().toList
    } else {
      // footer reads are independent and IO-bound: a 10k-file import
      // should not pay them serially on the driver
      val par = math.max(1, math.min(16, files.size))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      try {
        val tasks = files.map(p => pool.submit(
          new java.util.concurrent.Callable[DataFile] {
            override def call(): DataFile = statsOfFile(p, schema, warehouse, conf)
          }))
        tasks.map(_.get())
      } finally pool.shutdown()
    }
  }

  private def statsOfFile(p: String, schema: StructType,
      warehouse: String, conf: org.apache.hadoop.conf.Configuration): DataFile = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p), conf))
    try entryOf(reader.getFooter, RelPaths.relativize(warehouse, p),
      scala.util.Try(Io.size(p)).getOrElse(0L), schema, Set.empty)
    finally reader.close()
  }

  /** The bound encoding of a timestamp: microseconds in UTC, fixed
    * width, so a lexicographic bound compare is chronological. Every
    * reader of timestamp bounds formats or parses through it. */
  val BoundTimestamp: java.time.format.DateTimeFormatter = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)

  /** THE footer → [[DataFile]] encoding: per-file record count, null
    * counts, and min/max bounds for every boundable top-level column of
    * `schema` (drives file skipping), as order-preserving strings.
    * Long string bounds would embed whole documents into metadata.json:
    * a 64-char PREFIX stays a valid lower bound; an over-long upper
    * bound is dropped (the file is simply never skipped on that
    * column's upper side) — except for `exactBoundCols`.
    */
  def entryOf(footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      path: String, bytes: Long, schema: StructType,
      exactBoundCols: Set[String]): DataFile = {
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val boundableNames = schema.fields.map(_.name).toSet
    val blocks = footer.getBlocks.asScala
    val records = blocks.map(_.getRowCount).sum
    val mins = scala.collection.mutable.Map.empty[String, String]
    val maxs = scala.collection.mutable.Map.empty[String, String]
    val nulls = scala.collection.mutable.Map.empty[String, Long]
    val dropped = scala.collection.mutable.Set.empty[String]
    val nullsUnknown = scala.collection.mutable.Set.empty[String]
    for (b <- blocks; c <- b.getColumns.asScala) {
      val colPath = c.getPath.toArray
      if (colPath.length == 1 && boundableNames(colPath(0))) {
        val name = colPath(0)
        val st = c.getStatistics
        // null counts are independent of bound encodability: track
        // them even for columns whose min/max we drop
        if (st == null || !st.isNumNullsSet) nullsUnknown += name
        else nulls(name) = nulls.getOrElse(name, 0L) + st.getNumNulls
        if (st == null || !st.hasNonNullValue || st.isEmpty) dropped += name
        else {
          val ann = c.getPrimitiveType.getLogicalTypeAnnotation
          def encode(v: AnyRef): Option[String] = (v, ann) match {
            case (b: Binary, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
              Some(b.toStringUsingUTF8)
            case (i: Integer, _: LogicalTypeAnnotation.DateLogicalTypeAnnotation) =>
              Some(java.time.LocalDate.ofEpochDay(i.longValue).toString)
            case (l: java.lang.Long, t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation)
                if t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
              Some(BoundTimestamp.format(java.time.Instant.ofEpochSecond(
                Math.floorDiv(l.longValue, 1000000L),
                Math.floorMod(l.longValue, 1000000L) * 1000L)))
            case (n @ (_: Integer | _: java.lang.Long | _: java.lang.Double |
                       _: java.lang.Float), null) => Some(n.toString)
            case (n @ (_: Integer | _: java.lang.Long),
                  _: LogicalTypeAnnotation.IntLogicalTypeAnnotation) => Some(n.toString)
            case _ => None // decimals/other: no bound (conservative)
          }
          (encode(st.genericGetMin.asInstanceOf[AnyRef]),
           encode(st.genericGetMax.asInstanceOf[AnyRef])) match {
            case (Some(mn), Some(mx)) =>
              mins(name) = minOf(mins.get(name), mn, schema, name)
              maxs(name) = maxOf(maxs.get(name), mx, schema, name)
            case _ => dropped += name
          }
        }
      }
    }
    dropped.foreach { n => mins.remove(n); maxs.remove(n) }
    nullsUnknown.foreach(nulls.remove)
    DataFile(
      path = path,
      records = records,
      bytes = bytes,
      minBound = mins.toMap.map { case (k, v) =>
        k -> (if (v.length > 64 && !exactBoundCols(k)) v.substring(0, 64) else v) },
      maxBound = maxs.toMap.filter { case (k, v) =>
        v.length <= 64 || exactBoundCols(k) },
      nullCount = nulls.toMap)
  }

  /** order-aware merge of string-encoded bounds: numeric columns
    * compare numerically, everything else lexicographically */
  private def isNumeric(schema: StructType, name: String): Boolean =
    schema.fields.find(_.name == name).exists(_.dataType match {
      case _: IntegerType | _: LongType | _: ShortType | _: ByteType |
           _: DoubleType | _: FloatType | _: DecimalType => true
      case _ => false
    })

  private def minOf(cur: Option[String], v: String, schema: StructType, name: String): String =
    cur match {
      case None => v
      case Some(c) =>
        if (isNumeric(schema, name))
          scala.util.Try(if (BigDecimal(v) < BigDecimal(c)) v else c).getOrElse(Seq(v, c).min)
        else Seq(v, c).min
    }

  private def maxOf(cur: Option[String], v: String, schema: StructType, name: String): String =
    cur match {
      case None => v
      case Some(c) =>
        if (isNumeric(schema, name))
          scala.util.Try(if (BigDecimal(v) > BigDecimal(c)) v else c).getOrElse(Seq(v, c).max)
        else Seq(v, c).max
    }

  /** Commit a new snapshot through the OCC retry loop
    * ([[TableOps.commitRetrying]]; ref
    * HadoopRelativeTableOperations.java:144-180).
    *
    * `validateFrom` (overwrite ops only) is the snapshot id the
    * operation's SCAN was based on (`Some(None)` = table was empty at
    * read). When the refreshed base has moved past it, a concurrent
    * commit landed mid-operation. Validation is scoped to the files
    * this operation actually scanned-and-rewrote (read snapshot minus
    * its carryover): only a concurrent removal of one of THOSE is a
    * conflict. Everything else merges — concurrent appends survive,
    * and carryover files a concurrent compact rewrote are represented
    * by their current replacements (we rebase onto the current file
    * set instead of resurrecting the stale carryover entries).
    *
    * Merge-on-read params: `newDeletes` appends position-delete files;
    * `mustExist` (MOR delete) is the set of data files the new delete
    * positions reference — if a concurrent rewrite removed one, those
    * deleted rows live on in a rewritten file the positions can't
    * name → conflict. A concurrent delete-file addition during a COW
    * rewrite is likewise a conflict (rewritten rows would dodge it).
    * `clearDeletes` (compaction / INSERT OVERWRITE) drops all carried
    * delete files — they were applied or their targets truncated.
    */
  def commitSnapshot(table: GraftTable, newFiles: List[DataFile],
      overwrite: Boolean, operation: String, carryover: Seq[DataFile],
      branch: Option[String] = None,
      validateFrom: Option[Option[Long]] = None,
      newDeletes: List[DataFile] = Nil,
      mustExist: Set[String] = Set.empty,
      clearDeletes: Boolean = false,
      extraSummary: Map[String, String] = Map.empty,
      // applied to the refreshed base metadata right before the new
      // version is built — the hook atomic REPLACE TABLE AS SELECT
      // uses to swap schema/spec/properties in the SAME commit that
      // replaces the data; may throw CommitConflictException to
      // reject a base that moved incompatibly mid-operation
      metaTransform: TableMeta => TableMeta = identity,
      // write-audit-publish by id: Some(id) commits the snapshot
      // STAGED — appended to the snapshot set, stamped `wap.id` in its
      // summary, chained off the current head — while current/`main`/
      // the snapshot log stay untouched until CALL
      // system.publish_changes. Audit reads reach it via
      // VERSION AS OF <staged id>. Stream/`$changes`/incremental reads
      // never see it: they resolve main history by parentId lineage.
      wapId: Option[String] = None): Unit = {
    require(branch.isEmpty || wapId.isEmpty,
      "spark.wap.id staging and an explicit branch write don't compose: " +
        "pick one (wap.id stages refless; a branch write IS the audit ref)")
    val opName = Option(operation).getOrElse(if (overwrite) "overwrite" else "append")
    table.ops.commitRetrying(s"$opName on ${table.name()}") { (baseV, baseMeta) =>
      val now = System.currentTimeMillis()
      val snapId = now * 1000 + scala.util.Random.nextInt(1000)
      // branch writes (write-audit-publish) chain off the BRANCH head
      // and leave `main`/current untouched until fast-forward. A TAG is
      // an immutable label — writing "to" one would silently convert it
      // into a branch, so refuse (Iceberg semantics).
      branch.foreach { b =>
        baseMeta.refs.get(b).filter(_.refType == "tag").foreach { _ =>
          throw new IllegalArgumentException(
            s"ref $b is a tag; tags are immutable — create a branch to write")
        }
      }
      val baseSnap = branch.flatMap(b => baseMeta.refs.get(b))
        .flatMap(r => baseMeta.snapshot(r.snapshotId))
        .orElse(baseMeta.currentSnapshot)
      val baseDeletes = baseSnap.map(_.deleteFiles).getOrElse(Nil)
      // materialized only off the append fast path (lazy): removals
      // must know the full base list, plain appends must not pay for it
      lazy val baseFiles = baseSnap.map(table.ops.allFiles).getOrElse(Nil)
      // stamp the commit's sequence number on everything it ADDS (files
      // carried from the base keep theirs) — what scopes equality
      // deletes to strictly-older data files
      val seqNo = baseMeta.lastSequenceNumber + 1
      val stampedNew = newFiles.map(f => if (f.seq.isEmpty) f.copy(seq = Some(seqNo)) else f)
      val stampedDeletes = newDeletes.map(f => if (f.seq.isEmpty) f.copy(seq = Some(seqNo)) else f)
      // INSERT OVERWRITE (truncate: no scan snapshot) replaces all data,
      // so carried delete files could reference nothing — drop them
      val prevDeletes =
        if (clearDeletes || (overwrite && validateFrom.isEmpty)) Nil else baseDeletes
      val allStampedDeletes = prevDeletes ++ stampedDeletes
      val addedRecords = newFiles.map(_.records).sum
      // Build the new snapshot's (kept manifests, files to chunk) and
      // the prev totals for the summary; the commit writes the files
      // to chunk as new chunks (TableOps.spillAndSerialize).
      //
      // APPEND FAST PATH: nothing is removed, so every base chunk
      // survives verbatim WITHOUT being read — the commit is O(new
      // files) even on a million-file table — and the summary totals
      // roll forward from the base summary (a real count only on
      // pre-summary metadata).
      //
      // Otherwise (overwrite / MOR mustExist): manifest-chunk reuse —
      // any base chunk whose members ALL survive (checked through the
      // chunk cache) is carried verbatim; chunks with a removed member
      // dissolve, their survivors chunked again with the new files. A
      // trickle DELETE dissolves only the chunks it touched.
      val (keptManifests, toChunk, prevRecords, prevCount) =
        if (!overwrite && mustExist.isEmpty) {
          val recs = baseSnap.flatMap(_.summary.get("total-records"))
            .flatMap(s => scala.util.Try(s.toLong).toOption)
            .getOrElse(baseFiles.map(_.records).sum)
          // (a base parsed from pre-chunk metadata carries its inline
          // entries along, to be chunked by this commit)
          (baseSnap.map(_.manifests).getOrElse(Nil),
            baseSnap.map(_.files).getOrElse(Nil) ++ stampedNew,
            recs,
            baseSnap.map(_.dataFileCount).getOrElse(0).toLong)
        } else {
          val prevFiles: List[DataFile] =
            if (!overwrite) {
              val gone = mustExist -- baseFiles.map(_.path).toSet
              if (gone.nonEmpty)
                throw new CommitConflictException(
                  s"concurrent operation rewrote ${gone.size} data file(s) referenced " +
                  s"by this '$operation''s position deletes (e.g. ${gone.head})")
              baseFiles
            } else validateFrom match {
              case Some(expected) if baseSnap.map(_.snapshotId) != expected =>
                val readSnap = expected.map(id => baseMeta.snapshot(id).getOrElse(
                  throw new CommitConflictException(
                    s"snapshot $id read by '$operation' was expired mid-operation")))
                val readPaths = readSnap.map(table.ops.allFiles).getOrElse(Nil)
                  .map(_.path).toSet
                val affected = readPaths -- carryover.map(_.path).toSet
                val curPaths = baseFiles.map(_.path).toSet
                val removedAffected = affected -- curPaths
                if (removedAffected.nonEmpty)
                  throw new CommitConflictException(
                    s"conflicting concurrent operation removed ${removedAffected.size} " +
                    s"file(s) rewritten by '$operation' (e.g. ${removedAffected.head})")
                val readDeletes = readSnap.map(_.deleteFiles).getOrElse(Nil).map(_.path).toSet
                // A delete file the base gained since our read is lost if
                // (a) we rewrote the rows it targets (affected) — the
                // positions now name dead files — or (b) clearDeletes is
                // about to replace the whole delete set with one computed
                // from the STALE read snapshot (rewrite_position_deletes
                // carries over every data file, so `affected` is empty
                // there and cannot gate this).
                if ((affected.nonEmpty || clearDeletes) &&
                    baseDeletes.exists(d => !readDeletes(d.path)))
                  throw new CommitConflictException(
                    s"concurrent delete committed while '$operation' was running; " +
                    "committing would lose it")
                baseFiles.filterNot(f => affected(f.path))
              case _ => carryover.toList
            }
          val retainedPaths = prevFiles.map(_.path).toSet
          val keptM = scala.collection.mutable.ListBuffer.empty[graft.meta.Manifest]
          val keptPaths = scala.collection.mutable.Set.empty[String]
          baseSnap.foreach(_.manifests.foreach { m =>
            val chunk = table.ops.loadChunk(m)
            if (chunk.forall(f => retainedPaths(f.path))) {
              keptM += m
              keptPaths ++= chunk.map(_.path)
            }
          })
          (keptM.toList,
            prevFiles.filterNot(f => keptPaths(f.path)) ++ stampedNew,
            prevFiles.map(_.records).sum,
            prevFiles.size.toLong)
        }
      val (eqDel, posDel) = allStampedDeletes.partition(Mor.isEquality)
      val xBase = metaTransform(baseMeta)
      val snap = Snapshot(
        snapshotId = snapId,
        parentId = baseSnap.map(_.snapshotId),
        sequenceNumber = seqNo,
        timestampMs = now,
        operation = opName,
        summary = Map(
          "added-data-files" -> newFiles.size.toString,
          "added-records" -> addedRecords.toString,
          "added-files-size" -> newFiles.map(_.bytes).sum.toString,
          "added-delete-files" -> newDeletes.size.toString,
          "added-position-deletes" ->
            newDeletes.filterNot(Mor.isEquality).map(_.records).sum.toString,
          "added-equality-deletes" ->
            newDeletes.filter(Mor.isEquality).map(_.records).sum.toString,
          "total-position-deletes" -> posDel.map(_.records).sum.toString,
          "total-equality-deletes" -> eqDel.map(_.records).sum.toString,
          "total-records" -> (prevRecords + addedRecords).toString,
          "total-data-files" -> (prevCount + newFiles.size).toString) ++
          extraSummary ++ wapId.map("wap.id" -> _),
        files = toChunk,
        deleteFiles = allStampedDeletes,
        // the post-transform schema: an RTAS snapshot is written under
        // the schema it installs, everything else under the base's
        schemaId = Some(xBase.currentSchemaId),
        manifests = keptManifests,
        // candidates only: the commit keeps a delete chunk while all
        // its entries are still in deleteFiles
        deleteManifests = baseSnap.map(_.deleteManifests).getOrElse(Nil))
      val next = if (wapId.isDefined)
        // staged (write-audit-publish): the snapshot joins the set and
        // consumes a sequence number, but nothing points at it yet —
        // readers of the table, the stream, and $changes are untouched
        // until publish_changes cherry-picks/fast-forwards it
        xBase.copy(
          lastSequenceNumber = snap.sequenceNumber,
          lastUpdatedMs = now,
          snapshots = baseMeta.snapshots :+ snap,
          metadataLog = baseMeta.metadataLog :+
            MetadataLogEntry(now, s"${baseMeta.location}/metadata/v$baseV.metadata.json"))
      else branch match {
        case Some(b) => xBase.copy(
          lastSequenceNumber = snap.sequenceNumber,
          lastUpdatedMs = now,
          snapshots = baseMeta.snapshots :+ snap,
          metadataLog = baseMeta.metadataLog :+
            MetadataLogEntry(now, s"${baseMeta.location}/metadata/v$baseV.metadata.json"),
          refs = baseMeta.refs + graft.meta.Ref.moved(baseMeta.refs, b, snapId))
        case None => xBase.copy(
          lastSequenceNumber = snap.sequenceNumber,
          lastUpdatedMs = now,
          currentSnapshotId = Some(snapId),
          snapshots = baseMeta.snapshots :+ snap,
          snapshotLog = baseMeta.snapshotLog :+ SnapshotLogEntry(now, snapId),
          metadataLog = baseMeta.metadataLog :+
            MetadataLogEntry(now, s"${baseMeta.location}/metadata/v$baseV.metadata.json"),
          refs = baseMeta.refs + graft.meta.Ref.moved(baseMeta.refs, "main", snapId))
      }
      TableOps.Commit(next)
    }
  }
}

/** How a [[GraftDataWriter]] writes one kind of table file and
  * describes it: the written `schema` (field ids stamped; its columns
  * get bounds) and its broadcast Hadoop `conf` ([[Writer.broadcastConf]]),
  * the `warehouse` entries are relative to, the roll keys addressed
  * from the END of each incoming record (see [[KeySpec]]) and the
  * partition names their values stamp, the target file size, whether
  * the data columns LEAD the record (else they trail rewrite-internal
  * ones), the columns whose bounds stay full length, for
  * equality-delete files the key field ids, and the columns that get
  * a parquet bloom filter.
  */
case class FileSpec(
    schema: StructType,
    conf: Broadcast[org.apache.spark.util.SerializableConfiguration],
    warehouse: String,
    keys: Seq[KeySpec] = Nil,
    partitionNames: Seq[String] = Nil,
    targetBytes: Long = Long.MaxValue,
    dataLeading: Boolean = false,
    exactBoundCols: Set[String] = Set.empty,
    equalityIds: Option[List[Int]] = None,
    bloomCols: Seq[String] = Nil)

/** The staging directory `<table>/<kind>/<uuid>` of one write. Its
  * files stay in place when the commit lands — metadata just starts
  * referencing them — and a failed write or commit (conflicted,
  * retry-exhausted) or an aborted write deletes them instead of
  * leaking orphans.
  */
final class Staging(val abs: String) {
  def discardOnFailure[T](body: => T): T =
    try body catch { case e: Throwable => discard(); throw e }

  def discard(): Unit = Io.deleteRecursiveQuietly(abs)
}

object Staging {
  def apply(meta: TableMeta, warehouse: String, kind: String): Staging =
    new Staging(RelPaths.absolutize(warehouse,
      s"${meta.location}/$kind/${java.util.UUID.randomUUID()}"))
}
