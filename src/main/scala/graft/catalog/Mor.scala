package graft.catalog

import graft.meta.{DataFile, RelPaths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Merge-on-read deletes (spec: the reference's enabled format-v2
  * surface, /root/reference/README.md:89-90 `total-position-deletes` /
  * `total-equality-deletes`).
  *
  * POSITION deletes: a parquet file of (file_path STRING, pos BIGINT)
  * — file_path warehouse-RELATIVE (the reference's relocation
  * invariant applies to delete files too), pos the row's ordinal
  * within that data file (parquet's row index). Scans drop them per
  * file ([[MergeOnReadScan]]); [[liveRows]] anti-joins on (file, pos).
  *
  * EQUALITY deletes: a parquet file of key-column VALUES (columns =
  * the schema fields with ids `DataFile.equalityIds`). Written without
  * reading any data — the CDC/upsert trickle-delete path: DELETE WHERE
  * key=k on a 100 TB table costs O(1), not even a scan. At read time a
  * row is dead iff some equality-delete row matches its keys
  * (null-safely) AND that delete's sequence number is strictly greater
  * than the row's data file's — so keys re-inserted AFTER the delete
  * survive. Compaction applies both kinds and clears them.
  *
  * Scale design: the delete side is broadcast when small (the normal
  * case — trickle deletes against a 100 TB table are KBs/day), else a
  * shuffled anti-join on high-cardinality keys. Data files are NEVER
  * rewritten by a MOR delete — that is the point: a trickle DELETE
  * costs O(matched rows) or less, not a whole-file rewrite.
  *
  * TWO READERS. Table scans — live deletes, `add_files` imports, the
  * `_file`/`_pos` metadata columns, and the DELTA row-id scan of MOR
  * UPDATE/MERGE — go through [[MergeOnReadScan]], which applies the
  * deletes inside the scan task (per file: a sorted position set, then
  * an equality key set) with no join. Everything else reads live rows
  * through [[liveRows]]: read the data files (id-resolved and
  * name-mapped alike), annotate (file, pos) when deletes or the caller
  * need it, anti-join position deletes, then equality deletes. Its
  * readers:
  *  - row-level writes: COW and MOR `DELETE`, `INSERT OVERWRITE` by
  *    filter, and the MOR rewrite scratch of UPDATE/MERGE;
  *  - maintenance: `compute_stats` (table and partition), and the
  *    three compactions;
  *  - change reads: `$changes` states and fast paths, `graft-cdc`
  *    slices — whose position-delete rows share [[deletedByPositions]].
  * Both readers key a row by (`DataFile.path`, row index) and share
  * [[relevantDeletes]]' per-file rules, so they agree row for row; the
  * pieces [[liveRows]] is built from are private to this object.
  */
object Mor {

  val deleteSchema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  /** The column NAME a field was imported under: its field id through
    * the table's frozen name mapping, falling back to the current name
    * for columns added after import. */
  def importName(f: StructField, mapping: Map[Int, String]): String = {
    val id = if (f.metadata.contains(graft.meta.TableMeta.FieldIdKey))
      f.metadata.getLong(graft.meta.TableMeta.FieldIdKey).toInt else -1
    mapping.getOrElse(id, f.name)
  }

  /** A schema renamed to import names with field-id metadata stripped,
    * so the parquet reader resolves by NAME — exactly how imported
    * (field-id-less) files were written. Positionally identical to the
    * input. `idSource` supplies each field's id metadata when the
    * input fields may have lost it (a pruned/plan-derived schema);
    * fields absent from it keep their own metadata. The ONE place both
    * the batch ([[readData]]) and streaming name-mapped read paths
    * derive their read schema from. */
  def importSchema(s: StructType, idSource: StructType,
      mapping: Map[Int, String]): StructType = {
    val byName = idSource.fields.map(f => f.name -> f).toMap
    StructType(s.fields.map { f0 =>
      val f = byName.getOrElse(f0.name, f0)
      StructField(importName(f, mapping), f0.dataType, nullable = true,
        new MetadataBuilder().withMetadata(f.metadata)
          .remove(graft.meta.TableMeta.FieldIdKey).build())
    })
  }

  /** The live rows of `files` under `deletes`: the files read with
    * [[readData]], then position deletes subtracted, then equality
    * deletes (sequence numbers come from `files`). Returns `schema`'s
    * columns, plus the (relative file, position) pair as `__gf`/`__gp`
    * when `positions` is set — for callers that key on row identity
    * (the MOR DELETE's tombstones, partition stats, the change reads). The pair is only derived when deletes
    * or the caller need it, so a delete-free read stays the plain scan.
    */
  def liveRows(spark: SparkSession, warehouse: String, schema: StructType,
      files: Seq[DataFile], mapping: Map[Int, String], deletes: Seq[DataFile],
      positions: Boolean = false): DataFrame = {
    val out = schema.fieldNames.toSeq ++ (if (positions) Seq("__gf", "__gp") else Nil)
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(schema.fields ++ (if (positions) positionFields else Nil)))
    val data = readData(spark, warehouse, schema, files, mapping,
      if (positions || deletes.nonEmpty) {
        val escaped = (warehouse +: files.map(_.path)).exists(uriEscapes)
        withPositions(_, warehouse, escaped)
      } else identity)
    val (eq, pos) = deletes.partition(isEquality)
    subtractEquality(spark, subtract(spark, data, warehouse, pos), warehouse, eq, files)
      .select(out.map(col): _*)
  }

  private val positionFields = Seq(
    StructField("__gf", StringType, nullable = false),
    StructField("__gp", LongType, nullable = false))

  /** The rows of `parents` that the position-delete files `added` kill
    * — the change rows of a MOR position-delete commit, shared by the
    * changelog's fast path and the `graft-cdc` deleted-slice read. Reads
    * only the parents the entries reference, subtracts the parent
    * snapshot's `parentDeletes` (pruned to those parents by
    * [[relevantDeletes]]) so rows dead BEFORE the commit don't re-die,
    * and keeps the rows an entry of `added` hits. Entries of
    * `delivered` (an earlier slice of the same commit; two delete files
    * may name one position) are anti-joined away, pre-filtered to the
    * referenced parents so parquet pushdown skips their other row
    * groups. Returns `schema`'s columns; None when `added` references
    * none of `parents`.
    */
  def deletedByPositions(spark: SparkSession, warehouse: String, schema: StructType,
      parents: Seq[DataFile], mapping: Map[Int, String], parentDeletes: Seq[DataFile],
      added: Seq[DataFile], delivered: Seq[DataFile] = Nil): Option[DataFrame] = {
    if (added.isEmpty) return None
    val delSet = deleteSet(spark, warehouse, added)
    // bounded driver collect: distinct referenced parent paths,
    // O(the commit's target files)
    val referenced = delSet.select(col("__gf")).distinct()
      .collect().map(_.getString(0)).toSet
    val refFiles = parents.filter(f => referenced(f.path))
    if (refFiles.isEmpty) return None
    val hit = liveRows(spark, warehouse, schema, refFiles, mapping,
        relevantDeletes(parentDeletes, refFiles), positions = true)
      .join(delSet, Seq("__gf", "__gp"), "left_semi")
    val fresh =
      if (delivered.isEmpty) hit
      else {
        val earlier = deleteSet(spark, warehouse, delivered)
        // skipped when the IN-list would bloat the plan
        val pruned = if (referenced.size <= 200)
          earlier.where(col("__gf").isin(referenced.toSeq: _*)) else earlier
        hit.join(pruned, Seq("__gf", "__gp"), "left_anti")
      }
    Some(fresh.select(schema.fieldNames.toSeq.map(col): _*))
  }

  /** Read committed DATA files with id-based column resolution,
    * honoring the per-file name-mapping flag: a file imported by
    * `add_files` carries NO parquet field ids and resolves through the
    * table's frozen name mapping ([[graft.meta.TableMeta.NameMappingKey]])
    * instead — each field id reads the column NAME the file was
    * imported under, then aliases back to the current schema name, so
    * post-import renames stay metadata-only for imported files too.
    * Native files keep strict id resolution (a dropped-and-re-added
    * name must read NULL, never resurrect stale values).
    *
    * The plan is at most a 2-way union (one scan per resolution mode,
    * never per-file), and the no-imports common case is the IDENTICAL
    * single scan as before. `perRead` runs on each underlying
    * file-source relation BEFORE the union — where `_metadata`-derived
    * annotations ([[withPositions]]) must attach. The name-mapped side
    * re-stamps each field's metadata, so both sides carry the field
    * ids [[subtractEquality]] resolves key columns by (and a rewrite
    * writes imported rows back with ids).
    */
  private def readData(spark: SparkSession, warehouse: String, schema: StructType,
      files: Seq[DataFile], mapping: Map[Int, String],
      perRead: DataFrame => DataFrame): DataFrame = {
    val (mapped, idful) = files.partition(_.nameMapped.contains(true))
    def absOf(fs: Seq[DataFile]) = fs.map(f => RelPaths.absolutize(warehouse, f.path))
    val idRead =
      if (idful.isEmpty) None
      else Some(perRead(spark.read.schema(schema).parquet(absOf(idful): _*)))
    val nmRead =
      if (mapped.isEmpty) None
      else Some {
        val readSchema = importSchema(schema, schema, mapping)
        val raw = perRead(spark.read.schema(readSchema).parquet(absOf(mapped): _*))
        val extra = raw.columns.filterNot(readSchema.fieldNames.contains)
        raw.select((schema.fields.zip(readSchema.fieldNames).map {
          case (f, n) => col(n).as(f.name, f.metadata) } ++ extra.map(col)).toIndexedSeq: _*)
      }
    (idRead ++ nmRead).reduce(_ unionByName _)
  }

  /** broadcast the delete side below this many bytes (parquet size —
    * generous because the decoded two-column set stays small) */
  private val BroadcastMaxBytes: Long = 64L << 20

  /** Every spelling under which `_metadata.file_path` may present the
    * warehouse prefix (pure — unit-tested for schemes the sandbox
    * can't mount). */
  def warehousePrefixes(warehouse: String): Seq[String] = {
    val norm = Io.normalize(warehouse).stripSuffix("/")
    val posix =
      if (norm.startsWith("file:")) new org.apache.hadoop.fs.Path(norm).toUri.getPath
      else norm
    (Seq(norm) ++                                    // file:/w | s3a://b/w | /w
      (if (posix.startsWith("/"))
        Seq(s"file:$posix", s"file://$posix", posix) // every local spelling
       else Nil)
    ).distinct.map(_ + "/")
  }

  /** `_metadata.file_path` (a URL-encoded URI) → the data file's
    * `DataFile.path`, the exact representation stored in delete files
    * and served as `_file` by [[MergeOnReadScan]]. When `escaped` (some
    * path read holds a character the URI form escapes, e.g. ` ` or `%`)
    * the URI is decoded first, so it matches its plain prefix and
    * `DataFile.path` (`url_decode` would turn `+` into a space); plain
    * paths skip the decoding and keep the plan free of it — any decode
    * of the path in this plan, the UDF or `url_decode`, slows every
    * `graft-cdc` drain by 0.1–0.4 s on the `cdc_upsert` benchmark
    * workload. Spark may spell the same location `file:/w/x`,
    * `file:///w/x`, `/w/x`, or `s3a://bucket/w/x` — every spelling of
    * the warehouse prefix is matched so a URI warehouse gets correct
    * keys too.
    */
  private def relFileCol(warehouse: String, escaped: Boolean): Column = {
    val prefixes = warehousePrefixes(warehouse)
    val uri = col("_metadata.file_path")
    val raw = if (escaped) decodePath(uri) else uri
    val relChain = prefixes.foldLeft(when(lit(false), lit(""))) { (acc, w) =>
      acc.when(raw.startsWith(w), raw.substr(lit(w.length + 1), lit(Int.MaxValue)))
    }
    // fallback: strip a file: scheme (pre-URI behavior, conservative)
    relChain.otherwise(regexp_replace(raw, "^file:(//)?", ""))
  }

  private val decodePath = udf((uri: String) =>
    new org.apache.hadoop.fs.Path(new java.net.URI(uri)).toString)

  /** Whether a URI may spell `p` with an escape — conservative: any
    * character outside a set a URI path never escapes counts. */
  private def uriEscapes(p: String): Boolean = p.exists(c =>
    !((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') ||
      "/-_.~:=+,@".indexOf(c) >= 0))

  /** The committed delete set as (__gf relative-path, __gp position). */
  private def deleteSet(spark: SparkSession, warehouse: String,
      deletes: Seq[DataFile]): DataFrame = {
    val paths = deletes.map(d => RelPaths.absolutize(warehouse, d.path))
    val raw = spark.read.schema(deleteSchema).parquet(paths: _*)
      .select(col("file_path").as("__gf"), col("pos").as("__gp"))
    if (deletes.map(_.bytes).sum <= BroadcastMaxBytes) broadcast(raw) else raw
  }

  /** Annotate a parquet file-source DataFrame with its (relative file,
    * position) as __gf/__gp — materialized BEFORE any join so `_metadata`
    * never needs to resolve through one. */
  private def withPositions(data: DataFrame, warehouse: String,
      escaped: Boolean): DataFrame =
    data.withColumn("__gf", relFileCol(warehouse, escaped))
      .withColumn("__gp", col("_metadata.row_index"))

  /** Anti-join a __gf/__gp-annotated frame against the POSITION delete
    * set; keeps the annotation columns. */
  private def subtract(spark: SparkSession, annotated: DataFrame, warehouse: String,
      deletes: Seq[DataFile]): DataFrame =
    if (deletes.isEmpty) annotated
    else annotated.join(deleteSet(spark, warehouse, deletes), Seq("__gf", "__gp"), "left_anti")

  def isEquality(d: DataFile): Boolean = d.content.contains("equality")

  /** Delete files that can possibly reference any of `files`:
    *
    *  - POSITION deletes prune by their `file_path` column bounds
    *    (delete writes keep them EXACT — untruncated — for this). A
    *    pruned point-lookup over a trickle-deleted 100 TB table then
    *    reads only the handful of delete files whose path range
    *    overlaps the scanned files, not every delete ever committed.
    *    Because data paths embed the partition directories, the path
    *    range IS partition-scoped: a partition-filtered scan keeps
    *    only delete files that reference that partition's files.
    *  - EQUALITY deletes apply only to data files with STRICTLY older
    *    sequence numbers AND whose key-column value ranges can reach
    *    the file's ([[equalityDeleteMayApply]]). The CDC shape this
    *    serves: a time-partitioned upsert table's recent-partition
    *    scans see only recent (high-seq) files and skip the long tail
    *    of old equality deletes entirely; a DELETE whose keys include
    *    a partition source column additionally prunes against every
    *    partition its values can't touch — the partition-scoped
    *    delete-file path without a separate partition stamp (the
    *    delete file's own column stats carry the scope).
    *
    * Missing bounds/seqs (legacy or fallback stats) conservatively
    * keep the file.
    */
  def relevantDeletes(deletes: Seq[DataFile], files: Seq[DataFile]): Seq[DataFile] =
    deletes.filter { d =>
      if (isEquality(d)) files.exists(f => equalityDeleteMayApply(d, f))
      else files.exists(f => positionDeleteMayApply(d, f.path))
    }

  /** Can position-delete file `d` name a row of the data file at
    * `path`? Its exact `file_path` bounds must cover the path. */
  def positionDeleteMayApply(d: DataFile, path: String): Boolean =
    d.minBound.get("file_path").forall(path >= _) &&
      d.maxBound.get("file_path").forall(path <= _)

  /** Can equality-delete file `d` kill any row of data file `f`?
    * Mirrors [[subtractEquality]]'s join exactly, on stats alone:
    * the delete's commit must be strictly newer than the file's
    * (`__dseq > __gseq`; missing seqs degrade to MaxValue/0 on the
    * same sides the join does), and every key column must be able to
    * match under null-safe `<=>` — a non-null match needs the two
    * value ranges to overlap; a null match needs BOTH sides to
    * possibly hold a null (bounds never cover nulls; an ABSENT null
    * count means unknown, never zero). Renames can desync the
    * name-keyed bound maps between old delete files and new data
    * files; a key missing from either side keeps the pair
    * (conservative), it never prunes.
    */
  def equalityDeleteMayApply(d: DataFile, f: DataFile): Boolean =
    d.seq.getOrElse(Long.MaxValue) > f.seq.getOrElse(0L) && {
      def mayHaveNull(x: DataFile, c: String) = x.nullCount.get(c).forall(_ > 0)
      (d.minBound.keySet ++ d.maxBound.keySet).forall { c =>
        boundsMayOverlap(d.minBound.get(c), d.maxBound.get(c),
          f.minBound.get(c), f.maxBound.get(c)) ||
          (mayHaveNull(d, c) && mayHaveNull(f, c))
      }
    }

  /** Whether the closed intervals [dmin,dmax] and [fmin,fmax] may
    * intersect. Bounds are the string encodings [[Writer.entryOf]] makes
    * and carry no type tag, so two orderings are candidates: numeric
    * (when every present bound parses as a decimal — numbers, and
    * digit-strings in a string column) and lexicographic (strings,
    * dates, timestamps — all encoded to sort lexically). Prunes only
    * when the intervals are disjoint under EVERY ordering the values
    * admit, so it is sound whichever one the real column type means.
    * Missing bounds → may overlap (one-sided stats prune one-sidedly).
    */
  private[catalog] def boundsMayOverlap(
      dmin: Option[String], dmax: Option[String],
      fmin: Option[String], fmax: Option[String]): Boolean = {
    def disjoint(lt: (String, String) => Boolean) =
      dmax.zip(fmin).exists { case (a, b) => lt(a, b) } ||
        fmax.zip(dmin).exists { case (a, b) => lt(a, b) }
    val present = Seq(dmin, dmax, fmin, fmax).flatten
    val allNumeric = present.nonEmpty &&
      present.forall(s => scala.util.Try(BigDecimal(s)).isSuccess)
    if (allNumeric)
      !(disjoint(_ < _) && disjoint(BigDecimal(_) < BigDecimal(_)))
    else !disjoint(_ < _)
  }

  /** Equality deletes grouped by key-column set, each set resolved to
    * `schema`'s fields by field id (so keys track renames). */
  def equalityGroups(schema: StructType, deletes: Seq[DataFile])
      : Seq[(Seq[StructField], Seq[DataFile])] = {
    val byId = schema.fields.flatMap { f =>
      if (f.metadata.contains(graft.meta.TableMeta.FieldIdKey))
        Some(f.metadata.getLong(graft.meta.TableMeta.FieldIdKey).toInt -> f)
      else None
    }.toMap
    deletes.groupBy(_.equalityIds.getOrElse(Nil)).toSeq.map { case (ids, group) =>
      ids.map(id => byId.getOrElse(id, throw new IllegalStateException(
        s"equality-delete key field id $id missing from read schema"))) -> group
    }
  }

  /** Subtract EQUALITY deletes from a __gf-annotated frame. `dataFiles`
    * supplies each file's sequence number (the delete applies only to
    * strictly-older files). Key columns are resolved from the frame's
    * field-id metadata, so they track renames.
    */
  private def subtractEquality(spark: SparkSession, annotated: DataFrame,
      warehouse: String, deletes: Seq[DataFile],
      dataFiles: Seq[DataFile]): DataFrame = {
    if (deletes.isEmpty) return annotated
    // file → sequence number (metadata-sized; broadcast). Files without
    // a recorded seq predate equality deletes → 0 (always older).
    val seqDf = spark.createDataFrame(
      dataFiles.map(f => org.apache.spark.sql.Row(f.path, f.seq.getOrElse(0L))).asJava,
      StructType(Seq(StructField("__gf", StringType, nullable = false),
        StructField("__gseq", LongType, nullable = false))))
    var df = annotated.join(broadcast(seqDf), Seq("__gf"), "left")
      .withColumn("__gseq", coalesce(col("__gseq"), lit(0L)))
    for ((keyFields, group) <- equalityGroups(annotated.schema, deletes)) {
      val delSchema = StructType(keyFields)
      // per-file union so each delete row carries ITS commit's seq
      val delRows = group.map { d =>
        spark.read.schema(delSchema)
          .parquet(RelPaths.absolutize(warehouse, d.path))
          .withColumn("__dseq", lit(d.seq.getOrElse(Long.MaxValue)))
      }.reduce(_ unionByName _)
      val renamed = delRows.select(
        (keyFields.map(f => col(f.name).as(s"__d_${f.name}")) :+ col("__dseq")).toIndexedSeq: _*)
      val small = group.map(_.bytes).sum <= BroadcastMaxBytes
      val delSide = if (small) broadcast(renamed) else renamed
      val cond = keyFields.map(f => col(f.name) <=> col(s"__d_${f.name}"))
        .reduce(_ && _) && col("__dseq") > col("__gseq")
      df = df.join(delSide, cond, "left_anti")
    }
    df.drop("__gseq")
  }

  /** Max key tuples an equality-delete commit will inline; beyond this
    * the position path is a better trade (the delete file itself would
    * approach data-file size). */
  val MaxEqualityTuples = 100000

  /** Try to express ANDed DELETE filters as key-value tuples: the
    * shapes a CDC/upsert pipeline emits — `k = v`, `k IN (...)`,
    * conjunctions over distinct columns, and ORs of those with
    * identical column sets. Returns (key column names in first-seen
    * order, one Map per deleted tuple) or None → caller falls back to
    * position deletes. Null keys are expressible (IS NULL / null-safe
    * equal) because the read side matches with `<=>`.
    */
  def tuplesFromFilters(filters: Seq[org.apache.spark.sql.sources.Filter])
      : Option[(List[String], Seq[Map[String, Any]])] = {
    import org.apache.spark.sql.sources._
    def go(f: Filter): Option[Seq[Map[String, Any]]] = f match {
      case EqualTo(a, v) => Some(Seq(Map(a -> v)))
      case EqualNullSafe(a, v) => Some(Seq(Map(a -> v)))
      case IsNull(a) => Some(Seq(Map(a -> null)))
      case In(a, vs) => Some(vs.toIndexedSeq.map(v => Map[String, Any](a -> v)))
      case Or(l, r) => for (ls <- go(l); rs <- go(r)) yield ls ++ rs
      case And(l, r) =>
        for {
          ls <- go(l); rs <- go(r)
          // cross-product of disjoint-column conjuncts; overlapping
          // columns (k=1 AND k=2) are not a tuple shape → None
          if ls.flatMap(_.keys).toSet.intersect(rs.flatMap(_.keys).toSet).isEmpty
        } yield for (lm <- ls; rm <- rs) yield lm ++ rm
      case _ => None
    }
    val combined = filters.toList match {
      case Nil => None
      case one :: rest => go(rest.foldLeft(one)(And(_, _)))
    }
    combined.flatMap { maps =>
      val keys = maps.flatMap(_.keys).distinct.toList
      // every tuple must bind every key (ragged ORs aren't tuples)
      if (maps.forall(m => m.size == keys.size) && maps.size <= MaxEqualityTuples)
        Some((keys, maps))
      else None
    }
  }

  /** Coerce a v1-filter literal to the external type `createDataFrame`
    * expects for the key column's Catalyst type (a DELETE's int literal
    * against a BIGINT column arrives as Integer, etc.). */
  def coerce(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (n: java.lang.Number, LongType) => n.longValue
    case (n: java.lang.Number, IntegerType) => n.intValue
    case (n: java.lang.Number, ShortType) => n.shortValue
    case (n: java.lang.Number, ByteType) => n.byteValue
    case (n: java.lang.Number, DoubleType) => n.doubleValue
    case (n: java.lang.Number, FloatType) => n.floatValue
    case (n: java.lang.Number, _: DecimalType) => new java.math.BigDecimal(n.toString)
    case _ => v // strings/booleans/dates/timestamps already external
  }
}
