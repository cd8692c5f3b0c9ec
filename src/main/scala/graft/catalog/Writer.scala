package graft.catalog

import graft.meta._
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Append/overwrite writer: stage parquet → collect per-file stats →
  * OCC commit with retry (the Spark-native equivalent of the
  * reference's insert flow, SURVEY §3.2: executors write bytes at
  * absolute paths, metadata records relative paths, the driver
  * commits v(N+1) with atomic rename and retries on conflict).
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
    val (stagingAbs, newFiles) = stageFiles(table.meta, table.ops.warehouse, data)
    // a conflicted (or retry-exhausted) commit must not leak its staged
    // rewrite output as orphan files
    try commitSnapshot(table, newFiles, overwrite, operation, carryover, branch,
      validateFrom, clearDeletes = clearDeletes, wapId = wapId)
    catch {
      case e: Throwable =>
        Io.deleteRecursiveQuietly(stagingAbs)
        throw e
    }
  }

  /** Stage `data` as committed-shape parquet under `<table>/data/<uuid>`
    * WITHOUT committing: align to the schema (field-id stamping),
    * cluster + fan out by the partition spec, collect footer stats,
    * stamp partition tuples. Returns the staging dir (for cleanup on a
    * failed commit — the files stay in place on success, metadata just
    * starts referencing them) and the stats-carrying file entries.
    * Shared by the normal append path and the atomic CTAS/RTAS staged
    * commit ([[GraftStagedTable]]).
    */
  def stageFiles(meta: TableMeta, warehouse: String,
      data: DataFrame): (String, List[DataFile]) = {
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

    val stagingRel = s"${meta.location}/data/${java.util.UUID.randomUUID()}"
    val stagingAbs = RelPaths.absolutize(warehouse, stagingRel)
    val fileKeys: Map[String, List[String]] =
      if (specExprs.isEmpty) {
        val w = sorted.write.mode("errorifexists").option("compression", "zstd")
        bloomColumns(meta).foldLeft(w)((w, c) =>
          w.option(s"parquet.bloom.filter.enabled#$c", "true")).parquet(stagingAbs)
        Map.empty
      } else
        fanoutWrite(sorted.withColumn("__gpk", struct(specExprs.toIndexedSeq: _*)),
          schema, stagingAbs, targetFileSize(meta), bloomColumns(meta))

    val specNames = meta.spec.fields.map(_.name)
    val newFiles = collectStats(spark, schema, warehouse, stagingAbs)
      .filter(_.records > 0)
      .map(f => stampPartition(f, fileKeys, specNames, warehouse))
    (stagingAbs, newFiles)
  }

  /** Attach the writer-reported partition tuple (field name → value
    * string) to a stats-collected data file. Bucket SPJ depends on
    * this: bucket membership is not provable from value bounds, only
    * the writer that clustered the rows knows it. */
  def stampPartition(f: DataFile, fileKeys: Map[String, List[String]],
      specNames: Seq[String], warehouse: String): DataFile =
    fileKeys.collectFirst {
      case (abs, vals) if RelPaths.relativize(warehouse, abs) == f.path &&
          vals.size == specNames.size =>
        f.copy(partition = specNames.zip(vals).toMap)
    }.getOrElse(f)

  /** Hadoop conf a [[GraftDataWriter]] needs to drive Spark's
    * ParquetWriteSupport outside a FileFormatWriter (the same settings
    * ParquetFileFormat.prepareWrite would install).
    */
  /** `write.parquet.bloom-filter-columns` table property: columns that
    * get a parquet bloom filter stamped per row group. At 100 TB a
    * point lookup on a high-cardinality NON-sort column (doc_id,
    * user_id…) can't be served by min/max bounds — every file's range
    * covers it — but the bloom lets parquet-mr's row-group filter drop
    * whole row groups on the pushed equality predicate with no false
    * negatives.
    */
  def bloomColumns(meta: TableMeta): Seq[String] =
    meta.properties.get("write.parquet.bloom-filter-columns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)

  def writerHadoopConf(spark: org.apache.spark.sql.SparkSession,
      schema: StructType,
      bloomCols: Seq[String] = Nil): org.apache.hadoop.conf.Configuration = {
    val conf = spark.sessionState.newHadoopConf()
    org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
      .setSchema(schema, conf)
    bloomCols.foreach(c => conf.set(s"parquet.bloom.filter.enabled#$c", "true"))
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

  /** Executor-side fanout write of `data` (= the write schema plus one
    * TRAILING `__gpk` partition-key struct): each task streams its
    * sorted rows through a [[GraftDataWriter]] that starts a fresh
    * parquet file whenever the key changes. Used by the V1 append path
    * for partitioned tables.
    */
  /** `write.target-file-size-bytes` table property (no cap if unset). */
  def targetFileSize(meta: TableMeta): Long =
    meta.properties.get("write.target-file-size-bytes")
      .flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(Long.MaxValue)

  private def fanoutWrite(data: org.apache.spark.sql.DataFrame, schema: StructType,
      stagingAbs: String, targetBytes: Long,
      bloomCols: Seq[String] = Nil): Map[String, List[String]] = {
    val spark = data.sparkSession
    Io.mkdirs(stagingAbs)
    val keyType = data.schema.fields.last.dataType
    val ser = new org.apache.spark.util.SerializableConfiguration(
      writerHadoopConf(spark, schema, bloomCols))
    // __gpk already IS the transformed key (specTransformExprs), so
    // the writer compares it raw
    val factory = new GraftDataWriterFactory(stagingAbs, ser, schema,
      keyFromEnd = Seq(RawKey(1, keyType)), dataLeading = true,
      targetBytes = targetBytes)
    // per-file partition keys flow back with the commit messages
    data.queryExecution.toRdd.mapPartitions {
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
        val tc = org.apache.spark.TaskContext.get()
        val w = factory.createWriter(tc.partitionId(), tc.taskAttemptId())
        var ok = false
        try {
          it.foreach(w.write)
          val m = w.commit().asInstanceOf[GraftCommitMessage]
          ok = true
          Iterator.single(m.fileKeys)
        }
        finally if (!ok) w.abort()
    }.collect().flatten.toMap
  }

  /** Per-file record counts + min/max bounds for every boundable
    * primitive column (drives file skipping) — read from the parquet
    * FOOTERS the write already produced, so committing never re-reads
    * the data (a 2× read amplification at 100 TB ingest otherwise).
    * Falls back to a Spark aggregation pass if a footer can't serve.
    */
  def collectStats(spark: org.apache.spark.sql.SparkSession, schema: StructType,
      warehouse: String, stagingAbs: String,
      exactBoundCols: Set[String] = Set.empty): List[DataFile] =
    try collectStatsFromFooters(schema, warehouse, stagingAbs, exactBoundCols)
    catch {
      case e: Throwable =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"footer stats failed (${e.getMessage}); falling back to scan")
        collectStatsByScan(spark, schema, warehouse, stagingAbs, exactBoundCols)
    }

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)

  /** Above this many staged files the footer pass DISTRIBUTES over the
    * cluster: a 1M-file 100 TB import's footer reads are executor
    * work, not a 16-thread driver bottleneck. Below it the threaded
    * driver pool wins (no job-scheduling overhead on the common
    * few-hundred-file commit). */
  val DistributedFooterThreshold: Int = 10000

  def collectStatsFromFooters(schema: StructType, warehouse: String,
      stagingAbs: String, exactBoundCols: Set[String] = Set.empty,
      distributeAbove: Int = DistributedFooterThreshold): List[DataFile] = {
    val conf = Io.hadoopConf()
    val boundableNames = schema.fields.map(_.name).toSet
    val files = Io.walkFiles(stagingAbs).filter(_.endsWith(".parquet")).toList
    if (files.size > distributeAbove) {
      // same per-file footer work, executor-side; collect preserves
      // partition order, so the DataFile list is identical to the
      // driver pool's (spec-pinned)
      val spark = org.apache.spark.sql.SparkSession.active
      val serConf = new org.apache.spark.util.SerializableConfiguration(conf)
      val parts = math.max(1, math.min(files.size / 256 + 1,
        spark.sparkContext.defaultParallelism * 4))
      spark.sparkContext.parallelize(files, parts)
        .map(p => statsOfFile(p, schema, warehouse, serConf.value,
          boundableNames, exactBoundCols))
        .collect().toList
    } else {
      // footer reads are independent and IO-bound: a 10k-file ingest
      // commit should not pay them serially on the driver
      val par = math.max(1, math.min(16, files.size))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      try {
        val tasks = files.map(p => pool.submit(
          new java.util.concurrent.Callable[DataFile] {
            override def call(): DataFile =
              statsOfFile(p, schema, warehouse, conf, boundableNames, exactBoundCols)
          }))
        tasks.map(_.get())
      } finally pool.shutdown()
    }
  }

  private def statsOfFile(p: String, schema: StructType,
      warehouse: String, conf: org.apache.hadoop.conf.Configuration,
      boundableNames: Set[String], exactBoundCols: Set[String]): DataFile = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.LogicalTypeAnnotation
    {
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p), conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        val records = blocks.map(_.getRowCount).sum
        val mins = scala.collection.mutable.Map.empty[String, String]
        val maxs = scala.collection.mutable.Map.empty[String, String]
        val nulls = scala.collection.mutable.Map.empty[String, Long]
        val dropped = scala.collection.mutable.Set.empty[String]
        val nullsUnknown = scala.collection.mutable.Set.empty[String]
        for (b <- blocks; c <- b.getColumns.asScala) {
          val path = c.getPath.toArray
          if (path.length == 1 && boundableNames(path(0))) {
            val name = path(0)
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
                  Some(tsFmt.format(java.time.Instant.ofEpochSecond(
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
          path = RelPaths.relativize(warehouse, p),
          records = records,
          bytes = scala.util.Try(Io.size(p)).getOrElse(0L),
          // exactBoundCols (e.g. a position-delete file's file_path)
          // keep full-length bounds: scan-side delete pruning needs a
          // real range, and paths are ~100 chars, not documents
          minBound = mins.toMap.map { case (k, v) =>
            k -> (if (v.length > 64 && !exactBoundCols(k)) v.substring(0, 64) else v) },
          maxBound = maxs.toMap.filter { case (k, v) =>
            v.length <= 64 || exactBoundCols(k) },
          nullCount = nulls.toMap)
      } finally reader.close()
    }
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

  def collectStatsByScan(spark: org.apache.spark.sql.SparkSession, schema: StructType,
      warehouse: String, stagingAbs: String,
      exactBoundCols: Set[String] = Set.empty): List[DataFile] = {
    val boundable = schema.fields.filter(f => f.dataType match {
      case _: IntegerType | _: LongType | _: ShortType | _: ByteType | _: DoubleType |
           _: FloatType | _: StringType | _: DateType | _: TimestampType |
           _: TimestampNTZType | _: DecimalType => true
      case _ => false
    })
    // timestamps use a FIXED-WIDTH encoding so lexicographic bound
    // compare == chronological (a trimmed fraction would not sort)
    def enc(f: org.apache.spark.sql.types.StructField) = f.dataType match {
      case _: TimestampType | _: TimestampNTZType =>
        (c: org.apache.spark.sql.Column) => date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
      case _ => (c: org.apache.spark.sql.Column) => c.cast("string")
    }
    val statAggs = count(lit(1)).as("__n") +:
      boundable.flatMap(f => Seq(
        enc(f)(min(col(f.name))).as(s"__min_${f.name}"),
        enc(f)(max(col(f.name))).as(s"__max_${f.name}")))
    val stats = spark.read.schema(schema).parquet(stagingAbs)
      .groupBy(input_file_name().as("__file"))
      .agg(statAggs.head, statAggs.tail.toIndexedSeq: _*)
      .collect()

    stats.map { r =>
      // input_file_name URIs: keep the scheme form for a URI warehouse
      // (normalized to Hadoop's spelling so RelPaths prefix-matches);
      // strip it for posix warehouses, as before
      val rawFile = r.getAs[String]("__file")
      val fileAbs =
        if (Io.hasScheme(warehouse)) Io.normalize(rawFile)
        else rawFile.replaceFirst("^file:(//)?", "")
      // long string bounds would embed whole documents into
      // metadata.json: a 64-char PREFIX stays a valid lower bound;
      // an over-long upper bound is dropped (conservative: the file
      // is simply never skipped on that column's upper side)
      val mins = boundable.flatMap(f =>
        Option(r.getAs[String](s"__min_${f.name}")).map(v =>
          f.name -> (if (v.length > 64 && !exactBoundCols(f.name)) v.substring(0, 64) else v))).toMap
      val maxs = boundable.flatMap(f =>
        Option(r.getAs[String](s"__max_${f.name}"))
          .filter(v => v.length <= 64 || exactBoundCols(f.name))
          .map(f.name -> _)).toMap
      DataFile(
        path = RelPaths.relativize(warehouse, fileAbs),
        records = r.getAs[Long]("__n"),
        bytes = scala.util.Try(Io.size(fileAbs)).getOrElse(0L),
        minBound = mins, maxBound = maxs)
    }.toList
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
      // Build the new snapshot's (kept manifests, inline tail) and the
      // prev totals for the summary.
      //
      // APPEND FAST PATH: nothing is removed, so every base chunk
      // survives verbatim WITHOUT being read — the commit is O(inline
      // tail + new files) even on a million-file table — and the
      // summary totals roll forward from the base summary (a real
      // count only on pre-summary metadata).
      //
      // Otherwise (overwrite / MOR mustExist): manifest-chunk reuse —
      // any base chunk whose members ALL survive (checked through the
      // chunk cache) is carried verbatim; chunks with a removed member
      // dissolve into the inline tail (respilled by TableOps when it
      // outgrows the chunk size). A trickle DELETE dissolves only the
      // chunks it touched.
      val (keptManifests, inlineTail, prevRecords, prevCount) =
        if (!overwrite && mustExist.isEmpty) {
          val recs = baseSnap.flatMap(_.summary.get("total-records"))
            .flatMap(s => scala.util.Try(s.toLong).toOption)
            .getOrElse(baseFiles.map(_.records).sum)
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
        files = inlineTail,
        deleteFiles = allStampedDeletes,
        // the post-transform schema: an RTAS snapshot is written under
        // the schema it installs, everything else under the base's
        schemaId = Some(xBase.currentSchemaId),
        manifests = keptManifests,
        // delete chunks carry forward whenever the base delete list is
        // kept whole (appends, MOR adds, validated overwrites): the
        // in-memory list then still starts with the chunks' contents,
        // so serialization strips them back out. Any path that drops
        // or filters deletes (truncate, compaction clear) dissolves
        // the chunks into the inline tail.
        deleteManifests =
          if (prevDeletes.nonEmpty) baseSnap.map(_.deleteManifests).getOrElse(Nil)
          else Nil)
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
