package graft.catalog

import graft.meta.{DataFile, TableMeta}
import org.apache.spark.sql.{DataFrame, GraftRelationShim, SparkSession}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Merge-on-read deletes (spec: the reference's enabled format-v2
  * surface, /root/reference/README.md:89-90 `total-position-deletes` /
  * `total-equality-deletes`).
  *
  * POSITION deletes: a parquet file of (file_path STRING, pos BIGINT)
  * — file_path warehouse-RELATIVE (the reference's relocation
  * invariant applies to delete files too), pos the row's ordinal
  * within that data file (parquet's row index).
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
  * Data files are NEVER rewritten by a MOR delete — that is the point:
  * a trickle DELETE costs O(matched rows) or less, not a whole-file
  * rewrite.
  *
  * ONE READER, ONE DELETE TEST. Every read of table rows goes through
  * [[MergeOnReadScan]], which applies the deletes inside the scan task
  * (per file: a sorted position set, then an equality key set) with no
  * join, keying a row by (`DataFile.path`, parquet row index): table
  * scans, the DELTA row-id scan of MOR UPDATE/MERGE, the copy-on-write
  * rewrite scan, [[liveRows]] — the DataFrame entry point for
  * row-level writes (MOR and COW `DELETE`, `INSERT OVERWRITE` by
  * filter), maintenance (`compute_stats`, the three compactions) and
  * the change reads' inserts and states — and [[removedRows]], the
  * rows a commit's new deletes remove (the change reads' deletes:
  * `$changes` and `graft-cdc`'s deleted slices).
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
    * the batch ([[MergeOnReadScan]]) and streaming name-mapped read
    * paths derive their read schema from. */
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

  /** The live rows of `files` under `deletes`: a DataFrame over the
    * table's own DSv2 relation with both lists pinned, so the read
    * plans [[MergeOnReadScan]], columnar when no delete applies.
    * Returns the current schema's
    * columns, plus the row identity (`_file`, `_pos`) as `__gf`/`__gp`
    * when `positions` is set — for callers that key on row identity
    * (the MOR DELETE's tombstones, partition stats).
    */
  def liveRows(spark: SparkSession, ops: TableOps, meta: TableMeta,
      files: Seq[DataFile], deletes: Seq[DataFile],
      positions: Boolean = false): DataFrame =
    pinnedRead(spark, ops, meta, files, deletes, Nil, positions)

  /** The rows of `files` that `existing` keeps and some delete of
    * `added` kills, each once — a merge-on-read commit's delete rows
    * (`existing` = the parent's deletes). Reads through the same
    * [[MergeOnReadScan]] as [[liveRows]], planning only the files an
    * added delete may reach: no join, no Spark job at planning.
    * Returns the current schema's columns. */
  def removedRows(spark: SparkSession, ops: TableOps, meta: TableMeta,
      files: Seq[DataFile], existing: Seq[DataFile], added: Seq[DataFile]): DataFrame =
    pinnedRead(spark, ops, meta, if (added.isEmpty) Nil else files, existing, added,
      positions = false)

  private def pinnedRead(spark: SparkSession, ops: TableOps, meta: TableMeta,
      files: Seq[DataFile], deletes: Seq[DataFile], added: Seq[DataFile],
      positions: Boolean): DataFrame = {
    val schema = TableMeta.schemaToSpark(meta.schema)
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(schema.fields ++ (if (positions) positionFields else Nil)))
    val table = new GraftTable("graft", Identifier.of(Array.empty, ops.tableLocation),
      ops, meta, -1, pinnedFiles = Some((files, deletes, added)))
    GraftRelationShim.frame(spark, table).select(schema.fieldNames.toSeq.map(col) ++
      (if (positions) Seq(col("_file").as("__gf"), col("_pos").as("__gp")) else Nil): _*)
  }

  private val positionFields = Seq(
    StructField("__gf", StringType, nullable = false),
    StructField("__gp", LongType, nullable = false))

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
    deletes.filter(d => files.exists(mayApply(d, _)))

  /** Can delete file `d` kill a row of data file `f`? A position delete
    * only when its exact `file_path` bounds cover `f`'s path. */
  def mayApply(d: DataFile, f: DataFile): Boolean =
    if (isEquality(d)) equalityDeleteMayApply(d, f)
    else d.minBound.get("file_path").forall(f.path >= _) && d.maxBound.get("file_path").forall(f.path <= _)

  /** Can equality-delete file `d` kill any row of data file `f`?
    * On stats alone: the delete's commit must be strictly newer than
    * the file's (missing seqs degrade to MaxValue for the delete and 0
    * for the file), and every key column must be able to
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
