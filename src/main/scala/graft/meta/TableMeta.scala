package graft.meta

import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

/** Table-format metadata model — a faithful simplified analog of the
  * reference's committed metadata.json (see /root/reference/README.md:23-109):
  * schemas keyed by schema-id with field-ids and last-column-id
  * (README.md:30-51), partition specs (52-57), sort orders (58-62),
  * snapshots + refs + snapshot-log/metadata-log (67-108), and — the
  * reference's one semantic change — every embedded path is RELATIVE
  * to the warehouse root (README.md:21-27,96,105-108) so a warehouse
  * can be relocated without rewriting metadata.
  *
  * File entries (path, record count, per-column min/max, partition
  * values) never sit in metadata.json: as in Iceberg's manifest chain,
  * every commit writes the entries it adds into immutable JSON chunk
  * files ([[Manifest]]), and a snapshot carries only the chunk stamps —
  * the full-chunk stamps through a shared manifest-list side file, the
  * few under-full ones inline. metadata.json is O(snapshots), and a
  * scan loads only the chunks its filter can match.
  */
final case class FieldDef(id: Int, name: String, dataType: String, required: Boolean)

final case class SchemaDef(schemaId: Int, fields: List[FieldDef])

/** transform: "identity" | "days" | "bucket[N]" (source by field id,
  * mirroring Iceberg's id-based resolution). */
final case class PartField(sourceId: Int, fieldId: Int, name: String, transform: String)

final case class PartSpec(specId: Int, fields: List[PartField])

final case class SortField(sourceId: Int, direction: String, nullOrder: String)

final case class SortOrderDef(orderId: Int, fields: List[SortField])

/** One data file owned by a snapshot. `path` is warehouse-relative.
  * `partition` maps partition-field name → string-encoded value;
  * `bounds` maps column name → (min, max) string-encoded, used for
  * driver-side file skipping.
  *
  * `seq` is the sequence number of the commit that ADDED the file
  * (carried unchanged across snapshots) — what scopes equality deletes:
  * an equality delete applies only to data files with a strictly
  * smaller sequence number, so re-inserting a deleted key later is not
  * retroactively swallowed. `content`/`equalityIds` mark delete files:
  * None/"position" = (file_path, pos) position deletes; "equality" =
  * key-value deletes whose columns are the schema fields with ids
  * `equalityIds` (id-keyed so renames don't break them).
  */
final case class DataFile(
    path: String,
    records: Long,
    bytes: Long,
    partition: Map[String, String] = Map.empty,
    minBound: Map[String, String] = Map.empty,
    maxBound: Map[String, String] = Map.empty,
    seq: Option[Long] = None,
    content: Option[String] = None,
    equalityIds: Option[List[Int]] = None,
    // exact per-column null counts from the parquet footer; a column
    // ABSENT from the map is "unknown" (old metadata / footer didn't
    // say), never "zero" — consumers needing a no-nulls proof (runtime
    // group filtering) must see an explicit 0
    nullCount: Map[String, Long] = Map.empty,
    // Some(true) = the file carries NO parquet field ids (add_files
    // import) and resolves via the table's name mapping
    // (`schema.name-mapping.default`), not by id — see [[MergeOnReadScan]]
    nameMapped: Option[Boolean] = None)

/** An immutable chunk of a snapshot's file list (the analog of the
  * reference's manifest indirection, README.md:96): `path` is a
  * warehouse-relative side JSON holding `count` [[DataFile]] records.
  * Chunks are content-frozen when written and SHARED across snapshots —
  * an append reuses the parent's chunks and writes only what it adds,
  * so the commit payload is O(chunk size), not O(table files). A chunk
  * is FULL at `write.metadata.manifest-chunk-size` entries; under-full
  * chunks merge at commit time (see `TableOps.spillAndSerialize`).
  *
  * The remaining fields are PRUNING KEYS stamped at spill time, the
  * analog of Iceberg's manifest-list partition summaries (README.md:96):
  * `minBound`/`maxBound` aggregate the member files' per-column bounds
  * for the partition SOURCE columns (a key is present only when every
  * member file carries that bound, so an absent key honestly means
  * "unknown — must load"); `minSeq`/`maxSeq` bound the member files'
  * commit sequence numbers; `bytes` sums member file sizes (size
  * estimation without loading). They let the planner decide "can this
  * chunk contain a matching file?" WITHOUT reading the chunk — a
  * partition-pruned scan of a million-file table loads only the
  * chunks whose key range overlaps the filter. All default empty/None
  * so pre-upgrade metadata reads as "no keys → always load" (sound,
  * just unpruned).
  */
final case class Manifest(path: String, count: Int,
    minBound: Map[String, String] = Map.empty,
    maxBound: Map[String, String] = Map.empty,
    minSeq: Option[Long] = None,
    maxSeq: Option[Long] = None,
    bytes: Long = 0L)

final case class Snapshot(
    snapshotId: Long,
    parentId: Option[Long],
    sequenceNumber: Long,
    timestampMs: Long,
    operation: String, // append | overwrite | delete | replace
    summary: Map[String, String],
    // Data files NOT yet written to a chunk: on a snapshot being built,
    // the files the commit adds (the commit writes them as chunks and
    // serializes `files = []`); on a parsed snapshot, empty — except on
    // metadata written before every commit chunked its files, whose
    // inline entries stay here until the next commit moves them. The
    // full list is the `manifests` chunk contents plus these, read
    // LAZILY (and chunk-pruned) through TableOps.allFiles/filesMatching,
    // never from this field alone.
    files: List[DataFile],
    // merge-on-read delete files (ref README.md:89-90
    // `total-position-deletes`): position deletes are parquet of
    // (file_path STRING, pos BIGINT) with file_path warehouse-RELATIVE;
    // scans drop the rows they name inside the scan task. Entries
    // referencing rewritten (absent) data files are inert and reclaimed
    // at compaction. IN MEMORY this is always the FULL list (parse loads
    // `deleteManifests` eagerly); IN JSON it is empty — the commit
    // writes every entry no surviving delete chunk holds into a new
    // one. Default keeps pre-MOR metadata.json readable.
    deleteFiles: List[DataFile] = Nil,
    manifests: List[Manifest] = Nil,
    // schema the snapshot was written under (Iceberg's per-snapshot
    // schema-id): time travel reads THIS schema, not the current one,
    // so evolution/RTAS never reshapes history. None on pre-upgrade
    // metadata → readers fall back to the current schema.
    schemaId: Option[Int] = None,
    // Delete chunks (Iceberg's delete manifests), always inline stamps.
    // A chunk carries forward only while every entry it holds is still
    // in `deleteFiles`; the commit decides that, so writers just pass
    // the base's stamps along. Unlike data chunks, delete chunks load
    // EAGERLY at parse (through the ChunkCache): every scan must see
    // the whole delete set for correctness before file-level pruning,
    // and delete volume is compaction-bounded — what grows with table
    // age is the COMMIT PAYLOAD, which this keeps O(chunk size).
    deleteManifests: List[Manifest] = Nil,
    // Manifest-LIST indirection (Iceberg's per-snapshot manifest
    // list, README.md:96): a snapshot with many chunk stamps would
    // otherwise repeat all of them inline in EVERY retained snapshot
    // — metadata.json grows O(snapshots × chunks) and every commit
    // re-serializes it (measured: ~109 KB/snapshot at 400 chunks).
    // IN JSON, the leading FULL-chunk stamps live in the side file
    // this warehouse-relative path names, and only the O(log chunk
    // size) under-full stamps stay inline in `manifests`; IN MEMORY
    // `manifests` is always the materialized full stamp list (parse
    // loads the side file through a process-wide cache). The file is
    // CONTENT-ADDRESSED (name = hash of its serialized stamps), so
    // the common case — an append that reuses the parent's full
    // chunks — reuses the parent's list file byte-for-byte: the commit
    // writes zero new list bytes and metadata.json stays O(snapshots).
    manifestList: Option[String] = None) {

  /** Files covered by chunks (disjoint from `files`). */
  def chunkedCount: Int = manifests.map(_.count).sum

  /** Total data-file count — computable WITHOUT loading any chunk. */
  def dataFileCount: Int = chunkedCount + files.size

  /** Total data bytes (chunk `bytes` keys + inline) — 0-bytes chunks
    * from pre-upgrade metadata undercount; used for size estimates. */
  def dataBytes: Long = manifests.map(_.bytes).sum + files.map(_.bytes).sum
}

/** Table-level statistics slot (ref README.md:99-100 `statistics` /
  * `partition-statistics`): one record per computed pass, pinned to
  * the snapshot it described. NDV is an approximate sketch result
  * (HLL++ via approx_count_distinct — exact distinct at 100 TB is a
  * full shuffle for no planning benefit); null counts and totals are
  * exact. Serves `$stats` and CBO-style sizing.
  */
final case class ColumnStats(ndv: Long, nullCount: Long)

/** Per-partition rollup (ref README.md:99-100 `partition-statistics`):
  * exact record count (MOR deletes applied), file count, and bytes —
  * bytes attributed from each data file by its row share in the
  * partition, so they're exact whenever files are partition-local
  * (what the write-side clustering produces). */
final case class PartitionStats(
    partition: Map[String, String],
    records: Long,
    bytes: Long,
    files: Long)

final case class TableStats(
    snapshotId: Long,
    totalRecords: Long,
    totalBytes: Long,
    columns: Map[String, ColumnStats],
    partitions: List[PartitionStats] = Nil)

final case class SnapshotLogEntry(timestampMs: Long, snapshotId: Long)

/** Result of [[TableMeta.lineageWindowFrom]]: `chain` oldest-first,
  * `base` = the retained snapshot the walk stopped on (seq ≤ above),
  * `truncatedParent` = the expired parent id that cut the chain.
  * base and truncatedParent both None ⇔ the walk reached genesis. */
final case class LineageWindow(chain: List[Snapshot], base: Option[Snapshot],
    truncatedParent: Option[Long])

final case class MetadataLogEntry(timestampMs: Long, metadataFile: String)

/** A named ref (branch | tag). `maxRefAgeMs` is the ref-level
  * retention override (Iceberg's SnapshotRef max-ref-age-ms): during
  * snapshot expiry a non-main ref whose TARGET SNAPSHOT is older than
  * this (or than the table's `history.expire.max-ref-age-ms` default)
  * is dropped, unpinning its lineage — without it, every forgotten
  * audit branch/tag pins snapshots and their files forever, unbounded
  * metadata+storage growth at ingest rates. Absent = keep forever
  * (unless the table default says otherwise). */
final case class Ref(snapshotId: Long, refType: String,
  maxRefAgeMs: Option[Long] = None)

object Ref {
  /** Move `name` to a new target, PRESERVING ref-level retention — a
    * ref move (branch append, fast-forward, rollback, WAP publish)
    * must never silently clear `maxRefAgeMs`; only an explicit
    * create_ref with a new value (or drop+recreate) changes it. */
  def moved(refs: Map[String, Ref], name: String,
      newSnapshotId: Long): (String, Ref) =
    name -> refs.get(name).map(_.copy(snapshotId = newSnapshotId))
      .getOrElse(Ref(newSnapshotId, "branch"))
}

final case class TableMeta(
    formatVersion: Int,
    tableUuid: String,
    location: String, // RELATIVE to warehouse root
    lastSequenceNumber: Long,
    lastUpdatedMs: Long,
    lastColumnId: Int,
    currentSchemaId: Int,
    schemas: List[SchemaDef],
    defaultSpecId: Int,
    partitionSpecs: List[PartSpec],
    lastPartitionId: Int,
    defaultSortOrderId: Int,
    sortOrders: List[SortOrderDef],
    properties: Map[String, String],
    currentSnapshotId: Option[Long],
    snapshots: List[Snapshot],
    snapshotLog: List[SnapshotLogEntry],
    metadataLog: List[MetadataLogEntry],
    refs: Map[String, Ref],
    statistics: Option[TableStats] = None) {

  def schema: SchemaDef = schemas.find(_.schemaId == currentSchemaId)
    .getOrElse(throw new IllegalStateException(s"schema $currentSchemaId missing"))

  def spec: PartSpec = partitionSpecs.find(_.specId == defaultSpecId)
    .getOrElse(PartSpec(0, Nil))

  def currentSnapshot: Option[Snapshot] =
    currentSnapshotId.flatMap(id => snapshots.find(_.snapshotId == id))

  def snapshot(id: Long): Option[Snapshot] = snapshots.find(_.snapshotId == id)

  /** Snapshots reachable from `start` by `parentId` links, head first.
    * `snapshots` is the table's whole snapshot SET — branch writes and
    * WAP-staged commits included — so every "is this published
    * history?" question must use this walk, never a raw seq-range or
    * set scan (the rule `$changes`, the streaming source, WAP publish,
    * and `ancestors_of` all share). The walk stops at genesis or at an
    * expired (absent) parent; a parentId CYCLE fails loudly (ids are
    * timestamp-derived — a cycle means corrupt metadata, and silently
    * returning the in-cycle prefix as "complete" lineage could let
    * expiry misclassify live snapshots as unreachable). */
  def lineageFrom(start: Option[Long]): List[Snapshot] = {
    val byId = snapshots.map(s => s.snapshotId -> s).toMap
    val out = List.newBuilder[Snapshot]
    val seen = scala.collection.mutable.Set.empty[Long]
    var cur = start.flatMap(byId.get)
    while (cur.isDefined && seen.add(cur.get.snapshotId)) {
      out += cur.get
      cur = cur.get.parentId.flatMap(byId.get)
    }
    if (cur.exists(s => seen(s.snapshotId)))
      throw new IllegalStateException(
        s"parentId CYCLE in snapshot metadata at ${cur.get.snapshotId} " +
          s"(seq ${cur.get.sequenceNumber}) — the table metadata is corrupt")
    out.result()
  }

  /** Main history: the lineage of the CURRENT snapshot. */
  def mainLineage: List[Snapshot] = lineageFrom(currentSnapshotId)

  /** Bounded lineage walk — the one shared kernel behind every
    * consumer that must answer "which commits are published history in
    * (above, anchor]": the `$changes` diff ([[graft.catalog.Changes]]),
    * the table-tail source's admission window, and the CDC source's
    * admission walk. Each keeps its own POLICY for how a cut chain is
    * handled (loud failure, synthetic genesis, silent stop), but the
    * walk itself lives here so a lineage bug can only ever need one
    * fix (round 16's branch-leak bug had to be fixed in two copies).
    *
    * Returns the snapshots reachable from `anchor` by `parentId` links
    * with `sequenceNumber > above`, OLDEST FIRST, plus how the walk
    * ended: `base` = the retained snapshot at/below `above` it stopped
    * on (a diff's base state), `truncatedParent` = a parent id that is
    * no longer retained (expiry cut the chain before `above` was
    * reached). Both None = the walk reached genesis (parentId None).
    * Cycle-guarded like [[lineageFrom]]. */
  def lineageWindowFrom(anchor: Snapshot, above: Long): LineageWindow = {
    val byId = snapshots.map(s => s.snapshotId -> s).toMap
    val seen = scala.collection.mutable.Set.empty[Long]
    val out = scala.collection.mutable.ListBuffer.empty[Snapshot]
    var truncated: Option[Long] = None
    var cur: Option[Snapshot] = Some(anchor)
    while (cur.exists(s => s.sequenceNumber > above && seen.add(s.snapshotId))) {
      val s = cur.get
      out += s
      cur = s.parentId match {
        case None => None
        case Some(p) => byId.get(p) match {
          case some @ Some(_) => some
          case None => truncated = Some(p); None
        }
      }
    }
    // a tripped cycle guard leaves cur pointing INSIDE the cycle
    // (seq > above) — returning it as `base` would hand consumers a
    // contract-violating diff base and a silently wrong changelog.
    // Cycles mean corrupt metadata (ids are timestamp-derived): loud.
    if (cur.exists(s => s.sequenceNumber > above && seen(s.snapshotId)))
      throw new IllegalStateException(
        s"parentId CYCLE in snapshot metadata at ${cur.get.snapshotId} " +
          s"(seq ${cur.get.sequenceNumber}) — the table metadata is corrupt")
    LineageWindow(out.toList.reverse, cur, truncated)
  }

  /** Parsed fallback name mapping — see [[TableMeta.NameMappingKey]]. */
  def nameMapping: Map[Int, String] = TableMeta.nameMappingFromProps(properties)
}

object TableMeta {
  private implicit val formats: Formats = Serialization.formats(NoTypeHints)

  def toJson(m: TableMeta): String = Serialization.writePretty(m)

  def fromJson(s: String): TableMeta =
    JsonMethods.parse(s).extract[TableMeta]

  def manifestToJson(files: List[DataFile]): String =
    Serialization.write(files)

  def manifestFromJson(s: String): List[DataFile] =
    JsonMethods.parse(s).extract[List[DataFile]]

  /** Iceberg-style fallback NAME MAPPING (table property
    * `schema.name-mapping.default`, spec format: JSON list of
    * `{"field-id": n, "names": [...]}`): how files WITHOUT parquet
    * field ids — `add_files` imports — resolve columns. The mapping
    * binds each field ID to the column name the file was imported
    * under, so a later schema RENAME never orphans imported files
    * (they keep resolving through the frozen import-time names), and
    * a column added after import correctly reads NULL from them.
    */
  val NameMappingKey = "schema.name-mapping.default"

  final case class NameMapEntry(`field-id`: Int, names: List[String])

  def nameMappingToJson(s: SchemaDef): String =
    Serialization.write(s.fields.map(f => NameMapEntry(f.id, List(f.name))))

  def nameMappingFromProps(props: Map[String, String]): Map[Int, String] =
    props.get(NameMappingKey).map { js =>
      JsonMethods.parse(js).extract[List[NameMapEntry]]
        .flatMap(e => e.names.headOption.map(e.`field-id` -> _)).toMap
    }.getOrElse(Map.empty)

  /** Manifest-LIST side file body: the chunk STAMPS of one snapshot
    * (see [[Snapshot.manifestList]]), not the file records. */
  def stampsToJson(ms: List[Manifest]): String = Serialization.write(ms)

  def stampsFromJson(s: String): List[Manifest] =
    JsonMethods.parse(s).extract[List[Manifest]]

  /** Spark StructType ⇄ our id-carrying schema. */
  def schemaFromSpark(st: org.apache.spark.sql.types.StructType, firstId: Int = 1): SchemaDef =
    SchemaDef(0, st.fields.toList.zipWithIndex.map { case (f, i) =>
      FieldDef(firstId + i, f.name, f.dataType.json, !f.nullable)
    })

  /** Key Spark's parquet reader/writer use for field-id resolution. */
  val FieldIdKey = "parquet.field.id"

  def schemaToSpark(s: SchemaDef): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(s.fields.map { f =>
      // carry the format's field id as `parquet.field.id` metadata:
      // writes stamp it into the parquet schema, and reads (with
      // spark.sql.parquet.fieldId.read.enabled) resolve columns by ID,
      // not name — so RENAME is metadata-only and DROP-then-re-ADD of
      // a name reads old files as NULL instead of resurrecting their
      // stale values (ref README.md:30-51, id-keyed schemas)
      org.apache.spark.sql.types.StructField(f.name,
        org.apache.spark.sql.types.DataType.fromJson(f.dataType), !f.required,
        new org.apache.spark.sql.types.MetadataBuilder()
          .putLong(FieldIdKey, f.id.toLong).build())
    })
}

/** Relative⇄absolute path mapping (spec: the reference's
  * RelativeFileIO.java:31-40 — prefix with the warehouse root unless
  * already absolute; strip the root prefix when relativizing).
  */
object RelPaths {
  private def norm(warehouse: String): String =
    if (warehouse.endsWith("/")) warehouse else warehouse + "/"

  // ":/" (not "://") so this agrees with Io.normalize's canonical
  // single-slash spellings (file:/x) and with the commit invariant —
  // an already-absolute URI must never get the warehouse prefix
  def absolutize(warehouse: String, location: String): String =
    if (location.startsWith("/") || location.contains(":/")) location
    else norm(warehouse) + location

  def relativize(warehouse: String, location: String): String = {
    val w = norm(warehouse)
    if (location.startsWith(w)) location.substring(w.length) else location
  }
}
