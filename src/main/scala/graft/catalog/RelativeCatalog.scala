package graft.catalog

import graft.meta._
import java.util
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Warehouse-relative DSv2 catalog — the Spark-native re-expression of
  * the reference's `HadoopRelativeCatalog` (SURVEY §2.1 C1–C11):
  *
  *  - a table is a directory whose `metadata/` holds
  *    `v<N>.metadata.json` (ref HadoopRelativeCatalog.java:41-43,
  *    isTableDir :126-141); any other directory is a namespace
  *    (ref :341-343)
  *  - table locations are forced to the relative `ns…/name` path;
  *    a user-supplied location is rejected (ref :378-396,
  *    defaultWarehouseLocation :203-210)
  *  - dropTable deletes data+metadata (purge semantics, ref :213-236);
  *    dropNamespace refuses non-empty without CASCADE (ref :300-316)
  *  - renameTable is supported as an atomic directory move — parity
  *    with the JDBC variant (JdbcRelativeCatalog.java:247-284); the
  *    Hadoop variant refuses (:239-241) only because generic
  *    object stores lack atomic rename
  *  - `t$snapshots` / `t$files` / `t$history` serve the metadata
  *    tables; loadTable(ident, version) resolves time travel over the
  *    snapshot list (README.md:67-108)
  *
  * Register with:
  * {{{
  *   spark.sql.catalog.<name> = graft.catalog.RelativeCatalog
  *   spark.sql.catalog.<name>.warehouse = /path/to/warehouse
  * }}}
  */
class RelativeCatalog extends TableCatalog with SupportsNamespaces with ViewCatalog
  with org.apache.spark.sql.connector.catalog.FunctionCatalog
  with org.apache.spark.sql.connector.catalog.StagingTableCatalog
  with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  /** `CALL <cat>.system.<proc>(...)` — the SQL maintenance surface
    * ([[Procedures]]): expire/compact/rollback/cherry-pick/refs/stats.
    */
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.length == 1 && namespace(0) == "system")
      Procedures.names.map(Identifier.of(namespace, _)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    (if (ident.namespace().length == 1 && ident.namespace()(0) == "system")
       Procedures.load(this, ident.name())
     else None).getOrElse(throw new RuntimeException(
      s"no such procedure ${ident.namespace().mkString(".")}.${ident.name()}"))

  /** Partition-transform functions (`bucket`, `days`) — served from
    * every namespace incl. the root so both user SQL
    * (`cat.bucket(16, x)`) and Spark's write-distribution resolution
    * (which looks functions up by bare name) find them. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    GraftFunctions.names.map(Identifier.of(namespace, _)).toArray

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    GraftFunctions.load(ident.name()).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident))

  protected var catName: String = _
  var warehouse: String = _

  /** Lock/FS options forwarded to [[TableOps]] (commit.lock-impl…). */
  protected var catalogProps: java.util.Map[String, String] =
    java.util.Collections.emptyMap[String, String]()

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Io.normalize(Option(options.get("warehouse"))
      .getOrElse(throw new IllegalArgumentException(
        s"catalog $name requires a 'warehouse' option")))
    catalogProps = new java.util.HashMap(options)
    Io.mkdirs(warehouse)
    // Checksum knobs on the warehouse FileSystem (ref
    // HadoopRelativeCatalog.java:45-48,88-91; README.md:123-124 — what
    // makes mixed-protocol relocation practical: a posix rsync of a
    // checksummed warehouse invalidates .crc sidecars, so reads of a
    // relocated warehouse set fs.verfiy-checksum=false). The ref's
    // typo'd key is kept for parity; the corrected spelling works too.
    // SIDE EFFECT (shared deliberately, matching the ref's use of the
    // JVM-cached FileSystem): these flags flip the process-wide cached
    // FS for this scheme/authority, so the last-initialized catalog
    // wins and other users of the same FS see the change. A catalog
    // needing isolation should set fs.<scheme>.impl.disable.cache in
    // its Hadoop conf (FileSystem.newInstance semantics) instead.
    if (Io.hasScheme(warehouse)) {
      val fs = Io.fs(warehouse)
      def flag(k: String) = Option(options.get(k)).map(_.toBoolean)
      fs.setVerifyChecksum(
        flag("fs.verfiy-checksum").orElse(flag("fs.verify-checksum")).getOrElse(true))
      fs.setWriteChecksum(
        flag("fs.write-checksum").getOrElse(true))
    }
    // Field-id-based parquet column resolution (see schemaToSpark):
    // SessionState.newHadoopConf copies every SQL conf into the parquet
    // reader's Configuration, so one session-level switch covers all
    // scan paths. Harmless for non-graft reads — id matching only
    // activates for requested fields that CARRY `parquet.field.id`
    // metadata; plain schemas keep name-based resolution.
    scala.util.Try {
      val conf = org.apache.spark.sql.SparkSession.active.conf
      conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    }: Unit
  }

  override def name(): String = catName

  // ---- helpers -----------------------------------------------------

  protected def dirOf(parts: Seq[String]): String =
    (warehouse.stripSuffix("/") +: parts).mkString("/")

  protected def isTableDir(p: String): Boolean =
    Io.listNames(s"$p/metadata").exists { n =>
      n.startsWith("v") &&
        (n.endsWith(".metadata.json") || n.endsWith(".metadata.json.gz"))
    }

  def tableLocation(ident: Identifier): String =
    (ident.namespace().toSeq :+ ident.name()).mkString("/")

  protected def opsFor(ident: Identifier) =
    new TableOps(warehouse, tableLocation(ident), catalogProps)

  // ---- namespaces (C1–C5) -----------------------------------------

  override def createNamespace(ns: Array[String], metadata: util.Map[String, String]): Unit = {
    val d = dirOf(ns.toSeq)
    if (Io.isDir(d)) throw new NamespaceAlreadyExistsException(ns)
    Io.mkdirs(d)
  }

  override def listNamespaces(): Array[Array[String]] =
    childNamespaces(Seq.empty).map(n => Array(n)).toArray

  override def listNamespaces(ns: Array[String]): Array[Array[String]] = {
    if (ns.nonEmpty && !namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    childNamespaces(ns.toSeq).map(n => ns :+ n).toArray
  }

  private def childNamespaces(parent: Seq[String]): Seq[String] = {
    val d = dirOf(parent)
    Io.listNames(d)
      .filter(n => Io.isDir(s"$d/$n") && !isTableDir(s"$d/$n"))
      .filterNot(_.startsWith(".")).sorted
  }

  override def namespaceExists(ns: Array[String]): Boolean = {
    val d = dirOf(ns.toSeq)
    Io.isDir(d) && !isTableDir(d)
  }

  override def loadNamespaceMetadata(ns: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    Map("location" -> ns.mkString("/")).asJava
  }

  override def alterNamespace(ns: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "namespace properties are not persisted by the path-based catalog " +
        "(ref HadoopRelativeCatalog.java:319-328)")

  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean = {
    val d = dirOf(ns.toSeq)
    if (!namespaceExists(ns)) return false
    val empty = Io.listNames(d).isEmpty
    if (!empty && !cascade) throw new NonEmptyNamespaceException(ns)
    Io.deleteRecursiveChecked(d)
    // cascade may have removed view files under d: drop their cached
    // positives (negatives under d stay valid)
    viewProbe.filterInPlace((k, _) => !k.startsWith(s"$d/"))
    true
  }

  // ---- tables (C6–C11) --------------------------------------------

  override def listTables(ns: Array[String]): Array[Identifier] = {
    val d = dirOf(ns.toSeq)
    if (!Io.isDir(d)) throw new NoSuchNamespaceException(ns)
    Io.listNames(d)
      .filter(n => Io.isDir(s"$d/$n") && isTableDir(s"$d/$n"))
      .map(n => Identifier.of(ns, n)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    isTableDir(dirOf(ident.namespace().toSeq :+ ident.name()))

  override def loadTable(ident: Identifier): Table = {
    // metadata tables: ns.table$snapshots / $files / $history
    val n = ident.name()
    if (n.contains("$")) {
      val (base, metaKind) = (n.substring(0, n.indexOf('$')), n.substring(n.indexOf('$') + 1))
      return metadataTable(Identifier.of(ident.namespace(), base), metaKind)
    }
    val ops = opsFor(ident)
    ops.refresh() match {
      case Some((v, meta)) => new GraftTable(catName, ident, ops, meta, v)
      case None => throw new NoSuchTableException(ident)
    }
  }

  /** Time travel: `VERSION AS OF <v>` — v is a snapshot id, a sequence
    * number, or a named ref (branch/tag, README.md:67-103). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val ops = opsFor(ident)
    val (v, meta) = ops.refresh().getOrElse(throw new NoSuchTableException(ident))
    val snap = Try(version.toLong).toOption match {
      case Some(wanted) =>
        meta.snapshot(wanted)
          .orElse(meta.snapshots.find(_.sequenceNumber == wanted))
      case None =>
        meta.refs.get(version).flatMap(r => meta.snapshot(r.snapshotId))
    }
    val resolved = snap.getOrElse(throw new IllegalArgumentException(
      s"no snapshot or ref '$version' in ${ident.name()}"))
    new GraftTable(catName, ident, ops, meta, v, Some(resolved.snapshotId))
  }

  /** Time travel: `TIMESTAMP AS OF` (µs since epoch). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val ops = opsFor(ident)
    val (v, meta) = ops.refresh().getOrElse(throw new NoSuchTableException(ident))
    val tsMs = timestampMicros / 1000
    val snap = meta.snapshots.filter(_.timestampMs <= tsMs)
      .sortBy(_.timestampMs).lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot at or before $tsMs in ${ident.name()}"))
    new GraftTable(catName, ident, ops, meta, v, Some(snap.snapshotId))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val meta = buildMeta(ident, schema, partitions, properties, base = None)
    val ops = opsFor(ident)
    ops.commit(0, meta)
    new GraftTable(catName, ident, ops, meta, 1)
  }

  /** Build the metadata document for a table of `schema`/`partitions`
    * at `ident`. With `base` (atomic REPLACE), identity is preserved —
    * same UUID/location, snapshot history kept — but every column and
    * partition field gets a FRESH id past the base's counters, the
    * same rule Iceberg RTAS follows: old data files can never alias a
    * replaced schema (a reused name must NOT resurrect old values; our
    * field-id parquet resolution then NULL-fills them).
    */
  private[catalog] def buildMeta(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String],
      base: Option[TableMeta]): TableMeta = {
    val props = properties.asScala.toMap
    // custom locations would embed absolute paths → reject, exactly as
    // the reference does (HadoopRelativeCatalog.java:387-395)
    require(!props.contains("location"),
      "custom table locations are not supported: the table path is always " +
        "<warehouse>/<namespace…>/<table> so metadata stays relocatable")
    if (ident.namespace().nonEmpty && !namespaceExists(ident.namespace()))
      throw new NoSuchNamespaceException(ident.namespace())

    val schemaDef = TableMeta.schemaFromSpark(schema,
        firstId = base.map(_.lastColumnId + 1).getOrElse(1))
      .copy(schemaId = base.map(_.schemas.map(_.schemaId).max + 1).getOrElse(0))
    val byName = schemaDef.fields.map(f => f.name -> f.id).toMap
    val firstPartId = base.map(_.lastPartitionId + 1).getOrElse(1000)
    val specFields = partitions.toList.zipWithIndex.map { case (t, i) =>
      val ref = t.references().head.fieldNames().mkString(".")
      val srcId = byName.getOrElse(ref,
        throw new IllegalArgumentException(s"unknown partition column $ref"))
      val transform = t.name() match {
        case "bucket" => s"bucket[${t.arguments()(0)}]"
        case "truncate" =>
          // SQL truncate(w, col): the width is the literal argument
          val w = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_] => l.value()
          }.getOrElse(throw new IllegalArgumentException("truncate needs a width"))
          s"truncate[$w]"
        case other => other
      }
      PartField(srcId, firstPartId + i,
        RelativeCatalog.partitionFieldName(ref, transform), transform)
    }
    val specId = base.map(_.partitionSpecs.map(_.specId).max + 1).getOrElse(0)
    // optional write-time sort order, e.g.
    //   TBLPROPERTIES ('sort-order' = 'l_shipdate asc, l_orderkey desc')
    // (README.md:58-62 — the reference's metadata carries sort orders;
    // our writer applies them with sortWithinPartitions)
    val sortFields = props.get("sort-order").map(_.split(",").toList.map { part =>
      val tokens = part.trim.split("\\s+")
      val fid = byName.getOrElse(tokens(0),
        throw new IllegalArgumentException(s"unknown sort column ${tokens(0)}"))
      SortField(fid,
        if (tokens.length > 1 && tokens(1).equalsIgnoreCase("desc")) "desc" else "asc",
        "nulls-first")
    }).getOrElse(Nil)
    val sortId = base.map(_.sortOrders.map(_.orderId).max + 1).getOrElse(1)
    val now = System.currentTimeMillis()
    base match {
      case Some(b) => b.copy(
        lastUpdatedMs = now,
        lastColumnId = schemaDef.fields.map(_.id).maxOption.getOrElse(b.lastColumnId),
        currentSchemaId = schemaDef.schemaId,
        schemas = b.schemas :+ schemaDef,
        defaultSpecId = specId,
        partitionSpecs = b.partitionSpecs :+ PartSpec(specId, specFields),
        lastPartitionId =
          specFields.map(_.fieldId).maxOption.getOrElse(b.lastPartitionId),
        defaultSortOrderId = if (sortFields.isEmpty) 0 else sortId,
        sortOrders = b.sortOrders ++
          (if (sortFields.nonEmpty) List(SortOrderDef(sortId, sortFields)) else Nil),
        properties = props - "owner" - "provider")
      case None => TableMeta(
        formatVersion = 2,
        tableUuid = java.util.UUID.randomUUID().toString,
        location = tableLocation(ident),
        lastSequenceNumber = 0L,
        lastUpdatedMs = now,
        lastColumnId = schemaDef.fields.map(_.id).maxOption.getOrElse(0),
        currentSchemaId = 0,
        schemas = List(schemaDef),
        defaultSpecId = 0,
        partitionSpecs = List(PartSpec(0, specFields)),
        lastPartitionId = if (specFields.isEmpty) 999 else specFields.map(_.fieldId).max,
        defaultSortOrderId = if (sortFields.isEmpty) 0 else 1,
        sortOrders = List(SortOrderDef(0, Nil)) ++
          (if (sortFields.nonEmpty) List(SortOrderDef(1, sortFields)) else Nil),
        properties = props - "owner" - "provider",
        currentSnapshotId = None,
        snapshots = Nil,
        snapshotLog = Nil,
        metadataLog = Nil,
        refs = Map.empty)
    }
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog) -------------------
  //
  // CREATE TABLE AS SELECT stages the data files and publishes
  // metadata + snapshot in ONE atomic rename (no observable empty
  // table, nothing left behind on failure); REPLACE TABLE AS SELECT
  // swaps schema/spec/properties and the full data set in ONE OCC
  // commit on top of the existing version chain — readers see either
  // the old table or the new one, never an intermediate.

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    new GraftStagedTable(catName, ident, opsFor(ident),
      buildMeta(ident, schema, partitions, properties, base = None), base = None)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val (_, cur) = opsFor(ident).refresh()
      .getOrElse(throw new NoSuchTableException(ident))
    new GraftStagedTable(catName, ident, opsFor(ident),
      buildMeta(ident, schema, partitions, properties, base = Some(cur)),
      base = Some(cur))
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    opsFor(ident).refresh() match {
      case Some((_, cur)) =>
        new GraftStagedTable(catName, ident, opsFor(ident),
          buildMeta(ident, schema, partitions, properties, base = Some(cur)),
          base = Some(cur))
      case None => stageCreate(ident, schema, partitions, properties)
    }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val ops = opsFor(ident)
    val (v, meta) = ops.refresh().getOrElse(throw new NoSuchTableException(ident))
    var fields = meta.schema.fields
    var lastId = meta.lastColumnId
    var props = meta.properties
    changes.foreach {
      case sp: TableChange.SetProperty =>
        props = props + (sp.property() -> sp.value())
      case rp: TableChange.RemoveProperty =>
        props = props - rp.property()
      case ac: TableChange.AddColumn =>
        require(ac.fieldNames().length == 1, "nested adds not supported")
        lastId += 1
        fields = fields :+ FieldDef(lastId, ac.fieldNames()(0),
          ac.dataType().json, !ac.isNullable)
      case rc: TableChange.RenameColumn =>
        // id-based rename: the field keeps its id (schema evolution as
        // in the reference's id-keyed schemas, README.md:30-51)
        fields = fields.map(f =>
          if (f.name == rc.fieldNames()(0)) f.copy(name = rc.newName()) else f)
      case dc: TableChange.DeleteColumn =>
        fields = fields.filterNot(_.name == dc.fieldNames()(0))
      case ut: TableChange.UpdateColumnType =>
        // SAFE widening only (Iceberg's promotion rules): existing
        // files keep their narrow physical type — the field id still
        // matches and Spark's parquet reader up-casts at scan time, so
        // the change is metadata-only even at 100 TB
        require(ut.fieldNames().length == 1, "nested type changes not supported")
        fields = fields.map { f =>
          if (f.name == ut.fieldNames()(0)) {
            val from = org.apache.spark.sql.types.DataType.fromJson(f.dataType)
            val to = ut.newDataType()
            require(RelativeCatalog.safePromotion(from, to),
              s"unsafe type change ${from.simpleString} -> ${to.simpleString}: " +
                "only widening promotions (int->long, float->double, decimal " +
                "precision growth) are metadata-only")
            f.copy(dataType = to.json)
          } else f
        }
      case un: TableChange.UpdateColumnNullability =>
        // relaxing to nullable is free; the reverse would assert a
        // fact about every existing row — refuse instead of scanning
        require(un.nullable(),
          s"cannot make ${un.fieldNames().mkString(".")} required: existing rows may hold nulls")
        fields = fields.map(f =>
          if (f.name == un.fieldNames()(0)) f.copy(required = false) else f)
      case _: TableChange.UpdateColumnComment => // comments aren't persisted
      case up: TableChange.UpdateColumnPosition =>
        // metadata-only reorder: ids don't move, files don't care
        require(up.fieldNames().length == 1, "nested moves not supported")
        val moving = fields.find(_.name == up.fieldNames()(0)).getOrElse(
          throw new IllegalArgumentException(s"no column ${up.fieldNames()(0)}"))
        val rest = fields.filterNot(_.name == moving.name)
        fields = up.position() match {
          case _: TableChange.First => moving +: rest
          case a: TableChange.After =>
            val i = rest.indexWhere(_.name == a.column())
            require(i >= 0, s"no column ${a.column()} to move after")
            (rest.take(i + 1) :+ moving) ++ rest.drop(i + 1)
          case other => throw new UnsupportedOperationException(s"position $other")
        }
      case other =>
        throw new UnsupportedOperationException(s"unsupported change: $other")
    }
    val newSchemaId = meta.currentSchemaId + 1
    val next = meta.copy(
      lastUpdatedMs = System.currentTimeMillis(),
      lastColumnId = lastId,
      currentSchemaId = newSchemaId,
      schemas = meta.schemas :+ SchemaDef(newSchemaId, fields),
      properties = props)
    ops.commit(v, next)
    // RENAME COLUMN is metadata-only: reads resolve parquet columns by
    // field id (schemaToSpark stamps `parquet.field.id`), so existing
    // files keep their old column names and the renamed field (same id)
    // still matches — no data rewrite, the property that keeps a rename
    // on a 100 TB table O(1) (ref README.md:30-51, id-keyed schemas).
    new GraftTable(catName, ident, ops, next, v + 1)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val d = dirOf(ident.namespace().toSeq :+ ident.name())
    if (!isTableDir(d)) return false
    Io.deleteRecursiveChecked(d) // includes data: purge semantics (ref C8)
    true
  }

  /** RENAME TO may arrive catalog-qualified — strip our own name. */
  protected def unqualified(ident: Identifier): Identifier =
    if (ident.namespace().headOption.contains(name()))
      Identifier.of(ident.namespace().drop(1), ident.name())
    else ident

  /** Rename = move the table directory, then commit the path-remapped
    * metadata as a NEW version through the normal commit path (no
    * existing metadata file is ever rewritten). Chunk CONTENTS embed
    * table-prefixed data-file paths, so the moved chunks are remapped
    * in place; the manifest list re-spills under the new prefix at
    * commit. A failed commit moves everything back.
    */
  override def renameTable(oldIdent: Identifier, rawNewIdent: Identifier): Unit = {
    val newIdent = unqualified(rawNewIdent)
    val from = dirOf(oldIdent.namespace().toSeq :+ oldIdent.name())
    val to = dirOf(newIdent.namespace().toSeq :+ newIdent.name())
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (Io.exists(to) || tableExists(newIdent) || viewExists(newIdent))
      throw new TableAlreadyExistsException(newIdent)
    if (newIdent.namespace().nonEmpty && !namespaceExists(newIdent.namespace()))
      throw new NoSuchNamespaceException(newIdent.namespace())
    val (v, meta) = opsFor(oldIdent).refresh()
      .getOrElse(throw new NoSuchTableException(oldIdent))
    Io.mkdirs(to.substring(0, to.lastIndexOf('/')))
    if (!Io.renameNoReplace(from, to)) throw new TableAlreadyExistsException(newIdent)
    def mover(a: String, b: String)(p: String) =
      if (p.startsWith(s"$a/")) b + p.stripPrefix(a) else p
    val (prefixOld, prefixNew) = (tableLocation(oldIdent), tableLocation(newIdent))
    val remap = mover(prefixOld, prefixNew) _
    try {
      RelativeCatalog.remapManifestContents(s"$to/metadata", remap)
      commitRename(oldIdent, newIdent, v, meta.copy(
        location = prefixNew,
        snapshots = meta.snapshots.map(s => s.copy(
          files = s.files.map(f => f.copy(path = remap(f.path))),
          deleteFiles = s.deleteFiles.map(f => f.copy(path = remap(f.path))),
          manifests = s.manifests.map(m => m.copy(path = remap(m.path))),
          deleteManifests = s.deleteManifests.map(m => m.copy(path = remap(m.path))))),
        metadataLog = meta.metadataLog.map(e => e.copy(metadataFile = remap(e.metadataFile)))))
    } catch {
      case e: Throwable =>
        RelativeCatalog.remapManifestContents(s"$to/metadata", mover(prefixNew, prefixOld))
        Io.renameNoReplace(to, from)
        throw e
    }
  }

  /** Commit a rename's remapped metadata as version `base + 1` of the
    * moved table. The JDBC catalog's commit point also moves its row. */
  protected def commitRename(oldIdent: Identifier, newIdent: Identifier,
      base: Int, meta: TableMeta): Unit =
    opsFor(newIdent).commit(base, meta): Unit

  /** Iceberg's `snapshot` procedure: a zero-copy "dev copy" — a NEW
    * independent table whose initial snapshot references the SOURCE's
    * current data (and live delete) files in place. One metadata
    * commit, no data bytes move; writes to either table never affect
    * the other (new files land under each table's own directory).
    * Field ids, partition spec, sort order, and sequence numbers are
    * preserved verbatim — shared files resolve by the same ids, and
    * carried MOR deletes keep their strictly-older scoping. The copy
    * gets `gc.enabled=false` (Iceberg's guard): snapshot EXPIRY on it
    * is refused, because expiring its lineage could physically delete
    * files the source still references. Plain DROP stays safe in this
    * layout — purge removes only the table's OWN directory, and the
    * shared files live under the source's.
    *
    * The inverse direction is the user's contract, exactly as in
    * Iceberg's `snapshot` procedure: the SOURCE records nothing about
    * its copies, so expiry/compaction-then-expiry ON THE SOURCE can
    * physically delete shared files once no surviving SOURCE snapshot
    * references them, breaking the copy's reads. A dev copy is a
    * short-lived artifact scoped inside the source's retention window
    * — copies that must outlive it should CTAS (own files) instead.
    */
  def snapshotTable(src: Identifier, dest: Identifier): GraftTable = {
    if (tableExists(dest)) throw new TableAlreadyExistsException(dest)
    if (dest.namespace().nonEmpty && !namespaceExists(dest.namespace()))
      throw new NoSuchNamespaceException(dest.namespace())
    val s = loadTable(src).asInstanceOf[GraftTable]
    val (_, sm) = s.ops.refresh().getOrElse(throw new NoSuchTableException(src))
    val cur = sm.currentSnapshot
    val files = cur.map(s.ops.allFiles).getOrElse(Nil)
    val now = System.currentTimeMillis()
    val sid = now * 1000 + scala.util.Random.nextInt(1000)
    val snap = cur.map(c => graft.meta.Snapshot(
      snapshotId = sid, parentId = None,
      sequenceNumber = sm.lastSequenceNumber, timestampMs = now,
      operation = "append",
      summary = Map(
        "snapshot-source" -> s"${src.namespace().mkString(".")}.${src.name()}",
        "total-records" -> files.map(_.records).sum.toString,
        "total-data-files" -> files.size.toString),
      files = files, deleteFiles = c.deleteFiles,
      schemaId = Some(sm.currentSchemaId)))
    val destMeta = sm.copy(
      tableUuid = java.util.UUID.randomUUID().toString,
      location = tableLocation(dest),
      lastUpdatedMs = now,
      properties = sm.properties + ("gc.enabled" -> "false"),
      currentSnapshotId = snap.map(_ => sid),
      snapshots = snap.toList,
      snapshotLog = snap.map(_ => graft.meta.SnapshotLogEntry(now, sid)).toList,
      metadataLog = Nil,
      refs = snap.map(_ => "main" -> graft.meta.Ref(sid, "branch")).toMap,
      statistics = None)
    opsFor(dest).commit(0, destMeta)
    loadTable(dest).asInstanceOf[GraftTable]
  }

  // ---- views (C10, path-based analog of the JDBC catalog's view
  // records, JdbcRelativeCatalog.java:157-201,476-547) ---------------

  private def viewFile(ident: Identifier): String =
    s"${dirOf(ident.namespace().toSeq)}/${ident.name()}.view.json"

  /** Analyzer hot-path cache for view existence, positive AND negative.
    *
    * ResolveGraftViews probes every 2/3-part relation naming this
    * catalog, per fixed-point iteration, per analysis — and streaming
    * re-analyzes each micro-batch. Uncached, each probe is a file-
    * exists call: noise on posix, a HEAD request per relation per
    * batch on an object store. DDL through THIS catalog instance
    * invalidates (create/drop/rename/dropNamespace); DDL paths
    * themselves always probe the filesystem, so cross-writer clashes
    * are still detected exactly. A view created by a DIFFERENT writer
    * becomes visible to cached readers after [[invalidateViewCache]]
    * (or a fresh catalog), matching Spark's own relation-cache
    * semantics for tables.
    */
  private val viewProbe = scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** Cache misses = filesystem probes actually issued (test hook: the
    * analyzer must not re-probe a known non-view per analysis). */
  private[graft] val viewProbeMisses = new java.util.concurrent.atomic.AtomicLong

  def invalidateViewCache(): Unit = viewProbe.clear()

  override def listViews(ns: String*): Array[Identifier] = {
    val d = dirOf(ns)
    Io.listNames(d).filter(_.endsWith(".view.json"))
      .map(n => Identifier.of(ns.toArray, n.stripSuffix(".view.json"))).toArray
  }

  override def viewExists(ident: Identifier): Boolean = {
    val f = viewFile(ident)
    viewProbe.getOrElseUpdate(f, { viewProbeMisses.incrementAndGet(); Io.exists(f) })
  }

  override def loadView(ident: Identifier): View = {
    if (!viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    new GraftView(ViewDef.fromJson(Io.readString(viewFile(ident))))
  }

  protected def mkViewDef(info: ViewInfo): ViewDef =
    ViewDef(info.ident().name(), info.sql(), info.currentCatalog(),
      info.currentNamespace().toList, info.schema().json,
      info.queryColumnNames().toList, info.columnAliases().toList,
      info.columnComments().toList.map(c => if (c == null) "" else c),
      info.properties().asScala.toMap)

  override def createView(info: ViewInfo): View = {
    val ident = info.ident()
    // a table with the same name wins — the reference's JDBC catalog
    // guards this clash both ways (JdbcRelativeCatalog.java:674-691)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // fresh probe, not the cache: a clash with another writer's view
    // must throw even if this instance cached a negative
    if (Io.exists(viewFile(ident)))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    if (ident.namespace().nonEmpty && !namespaceExists(ident.namespace()))
      throw new NoSuchNamespaceException(ident.namespace())
    val d = mkViewDef(info)
    Io.writeString(viewFile(ident), ViewDef.toJson(d))
    viewProbe.put(viewFile(ident), true)
    new GraftView(d)
  }

  /** Atomic create-or-replace (the CREATE OR REPLACE VIEW / ALTER VIEW
    * AS path): readers see the old or the new definition, never a torn
    * file and never a missing view — unlike drop+create. Posix swaps a
    * temp file in with ATOMIC_MOVE; on an object-store warehouse the
    * single PUT is already atomic. */
  def replaceView(info: ViewInfo): View = {
    val ident = info.ident()
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    if (ident.namespace().nonEmpty && !namespaceExists(ident.namespace()))
      throw new NoSuchNamespaceException(ident.namespace())
    val d = mkViewDef(info)
    val f = viewFile(ident)
    if (Io.hasScheme(f)) Io.writeString(f, ViewDef.toJson(d))
    else {
      val tmp = s"$f.${java.util.UUID.randomUUID().toString.take(8)}.tmp"
      Io.writeString(tmp, ViewDef.toJson(d))
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp), java.nio.file.Paths.get(f),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    viewProbe.put(f, true)
    new GraftView(d)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val d0 = ViewDef.fromJson(Io.readString(viewFile(ident)))
    val d = changes.foldLeft(d0) {
      case (d, sp: ViewChange.SetProperty) =>
        d.copy(properties = d.properties + (sp.property() -> sp.value()))
      case (d, rp: ViewChange.RemoveProperty) =>
        d.copy(properties = d.properties - rp.property())
      case (d, _) => d
    }
    Io.writeString(viewFile(ident), ViewDef.toJson(d))
    new GraftView(d)
  }

  override def dropView(ident: Identifier): Boolean = {
    val dropped = Io.deleteIfExists(viewFile(ident))
    viewProbe.put(viewFile(ident), false)
    dropped
  }

  override def renameView(oldIdent: Identifier, rawNewIdent: Identifier): Unit = {
    val newIdent = unqualified(rawNewIdent)
    // fresh probes on both sides — see createView
    if (!Io.exists(viewFile(oldIdent)))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(oldIdent)
    if (Io.exists(viewFile(newIdent)) || tableExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(newIdent)
    val d = ViewDef.fromJson(Io.readString(viewFile(oldIdent)))
    Io.writeString(viewFile(newIdent), ViewDef.toJson(d.copy(name = newIdent.name())))
    Io.deleteIfExists(viewFile(oldIdent)): Unit
    viewProbe.put(viewFile(newIdent), true)
    viewProbe.put(viewFile(oldIdent), false)
  }

  // ---- metadata tables --------------------------------------------

  protected def metadataTable(ident: Identifier, kind: String): Table = {
    val ops = opsFor(ident)
    val (_, meta) = ops.refresh().getOrElse(throw new NoSuchTableException(ident))
    kind match {
      case "changes" =>
        // CDC read over the snapshot chain — distributed (unlike the
        // driver-side MemTables below), see [[ChangesTable]]
        new ChangesTable(s"${ident.name()}$$changes", ops.warehouse, meta)
      case "snapshots" =>
        val sch = StructType(Seq(
          StructField("sequence_number", LongType),
          StructField("snapshot_id", LongType),
          StructField("parent_id", LongType),
          StructField("timestamp_ms", LongType),
          StructField("operation", StringType),
          StructField("total_records", LongType),
          StructField("total_data_files", LongType),
          StructField("schema_id", IntegerType)))
        // totals from the commit summary (rolled forward without any
        // chunk load); a real count only on pre-summary metadata
        val rows = meta.snapshots.sortBy(_.sequenceNumber).map { s =>
          val recs = s.summary.get("total-records")
            .flatMap(x => scala.util.Try(x.toLong).toOption)
            .getOrElse(ops.allFiles(s).map(_.records).sum)
          Row(
            s.sequenceNumber, s.snapshotId, s.parentId.map(Long.box).orNull,
            s.timestampMs, s.operation,
            recs, s.dataFileCount.toLong,
            s.schemaId.map(Int.box).orNull)
        }
        new MemTable(s"${ident.name()}$$snapshots", sch, rows)
      case "files" =>
        val sch = StructType(Seq(
          StructField("file_path", StringType),
          StructField("partition", StringType),
          StructField("record_count", LongType),
          StructField("file_size_in_bytes", LongType),
          StructField("sequence_number", LongType),
          StructField("bounded_columns", IntegerType)))
        val rows = meta.currentSnapshot.map(ops.allFiles).getOrElse(Nil)
          .map(f => Row(f.path,
            if (f.partition.isEmpty) null
            else f.partition.toSeq.sortBy(_._1)
              .map { case (k, v) => s"$k=$v" }.mkString("/"),
            f.records, f.bytes, f.seq.map(Long.box).orNull,
            f.minBound.size))
        new MemTable(s"${ident.name()}$$files", sch, rows)
      case "history" =>
        val sch = StructType(Seq(
          StructField("made_current_at_ms", LongType),
          StructField("snapshot_id", LongType)))
        val rows = meta.snapshotLog.map(e => Row(e.timestampMs, e.snapshotId))
        new MemTable(s"${ident.name()}$$history", sch, rows)
      case "refs" =>
        // named refs (README.md:67-75): branches + tags, incl. `main`
        val sch = StructType(Seq(
          StructField("name", StringType),
          StructField("type", StringType),
          StructField("snapshot_id", LongType),
          StructField("max_ref_age_ms", LongType)))
        val rows = meta.refs.toSeq.sortBy(_._1).map { case (n, r) =>
          Row(n, r.refType, r.snapshotId,
            r.maxRefAgeMs.map(Long.box).orNull)
        }
        new MemTable(s"${ident.name()}$$refs", sch, rows)
      case "manifests" =>
        // spilled manifest chunks of the current snapshot (the
        // commit-payload-bounding mechanism; README.md:96 analog)
        val sch = StructType(Seq(
          StructField("path", StringType),
          StructField("file_count", IntegerType)))
        val rows = meta.currentSnapshot.map(_.manifests).getOrElse(Nil)
          .map(m => Row(m.path, m.count))
        new MemTable(s"${ident.name()}$$manifests", sch, rows)
      case "delete_files" =>
        // live merge-on-read delete files (README.md:89-90): position
        // deletes carry no equality ids, equality deletes list theirs
        val sch = StructType(Seq(
          StructField("file_path", StringType),
          StructField("content", StringType),
          StructField("record_count", LongType),
          StructField("file_size_in_bytes", LongType),
          StructField("equality_ids", StringType)))
        val rows = meta.currentSnapshot.map(_.deleteFiles).getOrElse(Nil)
          .map(f => Row(f.path,
            if (Mor.isEquality(f)) "equality" else "position",
            f.records, f.bytes,
            f.equalityIds.map(_.mkString(",")).orNull))
        new MemTable(s"${ident.name()}$$delete_files", sch, rows)
      case "stats" =>
        // one row per column from the committed statistics slot
        // (Maintenance.computeStats); empty until a stats pass ran
        val sch = StructType(Seq(
          StructField("column_name", StringType),
          StructField("ndv", LongType),
          StructField("null_count", LongType),
          StructField("total_records", LongType),
          StructField("total_bytes", LongType),
          StructField("snapshot_id", LongType)))
        val rows = meta.statistics.toList.flatMap(st =>
          st.columns.toSeq.sortBy(_._1).map { case (c, cs) =>
            Row(c, cs.ndv, cs.nullCount, st.totalRecords, st.totalBytes, st.snapshotId)
          })
        new MemTable(s"${ident.name()}$$stats", sch, rows)
      case "partitions" =>
        // one row per partition — from the committed statistics slot
        // when a stats pass ran (exact, MOR deletes applied; ref
        // README.md:99-100 `partition-statistics`), else LIVE from the
        // writer-stamped per-file partition tuples (exact for
        // append-only history; files predating tuple stamping roll up
        // under "(unstamped)")
        val sch = StructType(Seq(
          StructField("partition", StringType),
          StructField("record_count", LongType),
          StructField("file_count", LongType),
          StructField("total_bytes", LongType),
          StructField("snapshot_id", LongType)))
        val rows = meta.statistics match {
          case Some(st) =>
            st.partitions.map { p =>
              val enc = p.partition.toSeq.sortBy(_._1)
                .map { case (k, v) => s"$k=$v" }.mkString("/")
              Row(enc, p.records, p.files, p.bytes, st.snapshotId)
            }
          case None =>
            val snap = meta.currentSnapshot
            val snapId = snap.map(_.snapshotId).getOrElse(-1L)
            snap.map(ops.allFiles).getOrElse(Nil)
              .groupBy(f =>
                if (f.partition.isEmpty) "(unstamped)"
                else f.partition.toSeq.sortBy(_._1)
                  .map { case (k, v) => s"$k=$v" }.mkString("/"))
              .toList.sortBy(_._1)
              .map { case (enc, fs) =>
                Row(enc, fs.map(_.records).sum, fs.size.toLong,
                  fs.map(_.bytes).sum, snapId)
              }
        }
        new MemTable(s"${ident.name()}$$partitions", sch, rows)
      case other => throw new NoSuchTableException(ident)
    }
  }
}

object RelativeCatalog {
  import org.apache.spark.sql.types._

  /** Iceberg-safe widening promotions: every old value is exactly
    * representable in the new type, so old files read unchanged. */
  def safePromotion(from: DataType, to: DataType): Boolean = (from, to) match {
    case (f, t) if f == t => true
    case (ByteType, ShortType | IntegerType | LongType) => true
    case (ShortType, IntegerType | LongType) => true
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case (f: DecimalType, t: DecimalType) =>
      t.scale == f.scale && t.precision >= f.precision
    case _ => false
  }

  /** The one partition-field naming rule (CREATE TABLE … PARTITIONED
    * BY and spec evolution): the field name for `transform`
    * ("identity", "days", "bucket[N]", "truncate[W]", …) over column
    * `source`. A bucket count or truncate width below 1 is rejected
    * NOW — otherwise the spec commits and only blows up at first write
    * (floorMod ArithmeticException). */
  def partitionFieldName(source: String, transform: String): String = {
    def checkWidth(what: String): Unit = {
      val n = transform.substring(transform.indexOf('[') + 1).stripSuffix("]").toInt
      require(n >= 1, s"$transform on $source: $what must be >= 1")
    }
    transform match {
      case "identity" => source
      case "days" => s"${source}_day"
      case "years" => s"${source}_year"
      case "months" => s"${source}_month"
      case "hours" => s"${source}_hour"
      case b if b.startsWith("bucket[") => checkWidth("bucket count"); s"${source}_bucket"
      case tr if tr.startsWith("truncate[") => checkWidth("width"); s"${source}_trunc"
      case other => throw new IllegalArgumentException(s"unsupported transform $other")
    }
  }

  /** Rewrite every spilled manifest chunk under `metadataDir` with
    * `remap` applied to its data-file paths (used by renameTable —
    * the chunk files move with the table directory, but their embedded
    * paths carry the old table prefix).
    */
  private[catalog] def remapManifestContents(metadataDir: String,
      remap: String => String): Unit = {
    Io.listNames(metadataDir)
      // manifest-list files (snapshot chunk STAMPS, not DataFile
      // records) are skipped: the rename's follow-up commit re-spills
      // the remapped in-memory stamps to a freshly content-addressed
      // list, and the old file becomes inert (rename-back even reuses
      // it, since its untouched content hashes to the original name)
      .filter(n => n.startsWith("manifest-") && n.endsWith(".json") &&
        !n.startsWith("manifest-list-"))
      .foreach { n =>
        val p = s"$metadataDir/$n"
        val files = graft.meta.TableMeta.manifestFromJson(Io.readString(p))
        Io.writeString(p, graft.meta.TableMeta.manifestToJson(
          files.map(f => f.copy(path = remap(f.path)))))
        // the one in-place chunk rewrite — drop any cached copy (a
        // rename-then-rename-back could otherwise resurrect it)
        ChunkCache.invalidate(p)
      }
  }
}
