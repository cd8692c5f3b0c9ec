package graft.catalog

import graft.meta.TableMeta
import java.sql.{Connection, DriverManager, SQLException}
import java.util
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** JDBC-backed variant of the relative catalog — the analog of the
  * reference's `JdbcRelativeCatalog` (SURVEY §2.1): data and metadata
  * FILES are laid out exactly like the path catalog (all warehouse-
  * relative), but the source of truth for namespaces, table listings,
  * and the current-metadata pointer is an RDBMS:
  *
  *  - bootstrap DDL creates the catalog + namespace-properties tables
  *    if missing (ref JdbcRelativeCatalog.java:119-155)
  *  - commits run the shared half of [[TableOps.commit]] unchanged
  *    (relative-path checks, chunk/list spill, metadata codec, cleanup
  *    of a lost attempt); only the commit point differs
  *    ([[JdbcTableOps]]): the temp file moves to a unique
  *    `v<N>-<tag>[.gz].metadata.json`, then the pointer row is
  *    INSERTed (create) or CASed
  *    (`UPDATE … SET metadata_location=? WHERE metadata_location=?`) —
  *    losers see 0 updated rows → CommitFailedException and retry
  *  - namespaces are property rows with an `exists` marker
  *    (ref :297-311); namespace properties ARE persisted (C5,
  *    ref :405-457), unlike the path catalog
  *  - renameTable is the path catalog's, committing the remapped
  *    metadata as a new version; its commit point is the guarded row
  *    UPDATE that also moves the row's name (ref :247-284)
  *
  * Default store is embedded Derby under the warehouse; any JDBC url
  * works via the `uri` option.
  */
class JdbcRelativeCatalog extends RelativeCatalog {

  /** Small connection pool (ref JdbcRelativeCatalog.java:100-104
    * `JdbcClientPool`): each catalog op checks a connection out and
    * returns it, so concurrent committers never serialize on a single
    * connection — the pointer-CAS commits of parallel writers proceed
    * in parallel and contention is decided by the DATABASE's row lock,
    * not a JVM mutex. Size via catalog option `pool-size` (default 4).
    */
  private var pool: java.util.concurrent.ArrayBlockingQueue[Connection] = _

  private def withConn[A](f: Connection => A): A = {
    val c = pool.take()
    try f(c) finally pool.put(c)
  }

  /** Catalog-store schema version (ref JdbcRelativeCatalog.java:52,
    * 157-190): V0 has no view support; V1 adds a `record_type`
    * discriminator column to the catalog table (rows are 'TABLE' or
    * 'VIEW'; NULL = legacy V0 table row). Existing stores migrate IN
    * PLACE — but only when the user opts in with the catalog option
    * `schema-version=V1`; a V1 column found in the store wins
    * regardless of the option.
    */
  @volatile private var schemaVersion: String = "V0"

  private def isV1: Boolean = schemaVersion == "V1"

  private val viewUnsupportedMsg =
    "JDBC relative catalog is initialized without view support. To " +
      "auto-migrate the database's schema and enable view support, set " +
      "the catalog option schema-version=V1"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    super.initialize(name, options)
    // Derby writes derby.log into the JVM's working directory unless
    // told otherwise, littering whatever directory the embedding app
    // runs from. The property is read once at engine boot, so set it
    // before the first connection if the app hasn't chosen a location.
    // Per-process temp file, not a fixed shared name: a fixed /tmp
    // path would collide across users (unwritable file) and interleave
    // concurrent processes' diagnostics.
    if (System.getProperty("derby.stream.error.file") == null) {
      val f = java.nio.file.Files.createTempFile("graft-derby-", ".log")
      f.toFile.deleteOnExit() // don't relocate the litter, remove it
      System.setProperty("derby.stream.error.file", f.toAbsolutePath.toString)
    }
    val uri = Option(options.get("uri"))
      .getOrElse(s"jdbc:derby:$warehouse/.jdbc-catalog;create=true")
    val size = Option(options.get("pool-size")).map(_.toInt).getOrElse(4)
    pool = new java.util.concurrent.ArrayBlockingQueue[Connection](size)
    (1 to size).foreach(_ => pool.put(DriverManager.getConnection(uri)))
    bootstrap()
    migrateSchemaIfRequired(Option(options.get("schema-version")))
  }

  /** Probe for the V1 `record_type` column (Derby folds unquoted
    * identifiers to upper case); add it in place when the catalog opts
    * in (ref JdbcRelativeCatalog.java:157-190 updateSchemaIfRequired).
    */
  private def migrateSchemaIfRequired(requested: Option[String]): Unit = withConn { conn =>
    val rs = conn.getMetaData.getColumns(null, null, "GRAFT_TABLES", "RECORD_TYPE")
    val present = try rs.next() finally rs.close()
    if (present) schemaVersion = "V1"
    else if (requested.exists(_.equalsIgnoreCase("V1"))) {
      val st = conn.createStatement()
      try st.execute("ALTER TABLE graft_tables ADD COLUMN record_type VARCHAR(5)")
      finally st.close()
      schemaVersion = "V1"
    }
    // else: stay V0; view operations will refuse with a pointer to the
    // migration switch (ref VIEW_WARNING_LOG_MESSAGE)
  }

  /** Appended to table-row lookups so V1 stores never resolve a VIEW
    * row as a table; V0 stores have no such column. NULL record_type
    * (a pre-migration row) is a table. */
  private def tableRowCond: String =
    if (isV1) " AND (record_type IS NULL OR record_type='TABLE')" else ""

  private def bootstrap(): Unit = withConn { conn =>
    def tryDdl(sql: String): Unit =
      try { val st = conn.createStatement(); try st.execute(sql) finally st.close() }
      catch { case e: SQLException if e.getSQLState == "X0Y32" => /* exists */ }
    tryDdl(
      """CREATE TABLE graft_tables (
        |  catalog_name VARCHAR(255) NOT NULL,
        |  table_namespace VARCHAR(255) NOT NULL,
        |  table_name VARCHAR(255) NOT NULL,
        |  metadata_location VARCHAR(4000),
        |  previous_metadata_location VARCHAR(4000),
        |  PRIMARY KEY (catalog_name, table_namespace, table_name))""".stripMargin)
    tryDdl(
      """CREATE TABLE graft_namespace_properties (
        |  catalog_name VARCHAR(255) NOT NULL,
        |  namespace VARCHAR(255) NOT NULL,
        |  property_key VARCHAR(255) NOT NULL,
        |  property_value VARCHAR(4000),
        |  PRIMARY KEY (catalog_name, namespace, property_key))""".stripMargin)
  }

  private def withStmt[A](sql: String)(bind: java.sql.PreparedStatement => Unit)(
      run: java.sql.PreparedStatement => A): A = withConn { conn =>
    val ps = conn.prepareStatement(sql)
    try { bind(ps); run(ps) } finally ps.close()
  }

  private def queryList[A](sql: String, args: String*)(f: java.sql.ResultSet => A): Seq[A] =
    withStmt(sql)(ps => args.zipWithIndex.foreach { case (a, i) => ps.setString(i + 1, a) }) { ps =>
      val rs = ps.executeQuery()
      val out = scala.collection.mutable.ListBuffer.empty[A]
      while (rs.next()) out += f(rs)
      rs.close()
      out.toSeq
    }

  private def update(sql: String, args: String*): Int =
    withStmt(sql)(ps => args.zipWithIndex.foreach { case (a, i) => ps.setString(i + 1, a) })(
      _.executeUpdate())

  private def nsKey(ns: Seq[String]): String = ns.mkString("/")

  /** The TABLE row for a new table (V1 stores tag it 'TABLE'). */
  private def insertTableRow(ns: String, tbl: String, metadataLocation: String): Int =
    if (isV1) update(
      "INSERT INTO graft_tables (catalog_name, table_namespace, table_name, metadata_location, previous_metadata_location, record_type) VALUES (?,?,?,?,NULL,'TABLE')",
      name(), ns, tbl, metadataLocation)
    else update(
      "INSERT INTO graft_tables (catalog_name, table_namespace, table_name, metadata_location, previous_metadata_location) VALUES (?,?,?,?,NULL)",
      name(), ns, tbl, metadataLocation)

  /** Pointer-CAS table operations: metadata files keep the vN naming
    * (plus a per-attempt tag), but currency is the DB row, not
    * version-hint.text. `movesTo` (rename) makes the commit point's
    * CAS also move the row to that identifier. */
  class JdbcTableOps(location: String, nsStr: String, tblName: String,
      movesTo: Option[Identifier] = None)
    extends TableOps(warehouse, location) {

    private[graft] def pointer: Option[String] =
      queryList(
        "SELECT metadata_location FROM graft_tables WHERE catalog_name=? AND table_namespace=? AND table_name=?" + tableRowCond,
        name(), nsStr, tblName)(_.getString(1)).headOption

    private def versionOf(loc: String): Int =
      loc.split("/").last.stripPrefix("v")
        .stripSuffix(".metadata.json").takeWhile(_.isDigit).toInt

    override def findVersion(): Int = pointer.map(versionOf).getOrElse(0)

    override def refresh(): Option[(Int, TableMeta)] = pointer.map { loc =>
      val v = versionOf(loc)
      (v, parseMeta(readMetadataString(
        graft.meta.RelPaths.absolutize(warehouse, loc))))
    }

    /** Unique file per attempt (a losing committer only ever deletes
      * its OWN file, never the winner's), then one pointer INSERT
      * (base 0) or CAS UPDATE. An integrity violation — a racer's row
      * under the same name — is a lost race like a failed CAS. */
    override protected def commitPoint(base: Int, tmp: String, gzip: Boolean): Unit = {
      val prevLoc = pointer
      if (prevLoc.map(versionOf).getOrElse(0) != base)
        throw new CommitFailedException(s"stale base $base for $nsStr.$tblName")
      val unique = s"v${base + 1}-${java.util.UUID.randomUUID().toString.take(8)}" +
        (if (gzip) ".gz" else "") + ".metadata.json"
      val target = s"$metadataDir/$unique"
      if (!Io.renameNoReplace(tmp, target))
        throw new CommitFailedException(s"metadata file $unique already exists")
      val newLoc = s"$location/metadata/$unique"
      val (move, moveArgs) = movesTo.fold(("", Seq.empty[String]))(i =>
        ("table_namespace=?, table_name=?, ", Seq(nsKey(i.namespace().toSeq), i.name())))
      val changed =
        try prevLoc match {
          case None => insertTableRow(nsStr, tblName, newLoc)
          case Some(prev) => update(
            s"UPDATE graft_tables SET ${move}metadata_location=?, previous_metadata_location=? WHERE catalog_name=? AND table_namespace=? AND table_name=? AND metadata_location=?",
            moveArgs ++ Seq(newLoc, prev, name(), nsStr, tblName, prev): _*)
        } catch {
          case e: SQLException if Option(e.getSQLState).exists(_.startsWith("23")) =>
            Io.deleteIfExists(target)
            throw new CommitFailedException(s"$nsStr.$tblName: ${e.getMessage}")
        }
      if (changed != 1) {
        Io.deleteIfExists(target)
        throw new CommitFailedException(
          s"concurrent update to $nsStr.$tblName (pointer CAS failed)")
      }
    }
  }

  override protected def opsFor(ident: Identifier): TableOps =
    new JdbcTableOps(tableLocation(ident), nsKey(ident.namespace().toSeq), ident.name())

  // ---- namespaces: rows, not directories ---------------------------

  override def createNamespace(ns: Array[String], metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(ns)) throw new NamespaceAlreadyExistsException(ns)
    update(
      "INSERT INTO graft_namespace_properties (catalog_name, namespace, property_key, property_value) VALUES (?,?,?,?)",
      name(), nsKey(ns.toSeq), "exists", "true")
    metadata.asScala.foreach { case (k, v) =>
      update(
        "INSERT INTO graft_namespace_properties (catalog_name, namespace, property_key, property_value) VALUES (?,?,?,?)",
        name(), nsKey(ns.toSeq), k, v)
    }
    Io.mkdirs(dirOf(ns.toSeq))
  }

  override def namespaceExists(ns: Array[String]): Boolean =
    queryList(
      "SELECT 1 FROM graft_namespace_properties WHERE catalog_name=? AND namespace=?",
      name(), nsKey(ns.toSeq))(_ => 1).nonEmpty ||
      queryList(
        "SELECT 1 FROM graft_tables WHERE catalog_name=? AND table_namespace=?",
        name(), nsKey(ns.toSeq))(_ => 1).nonEmpty

  override def listNamespaces(): Array[Array[String]] = {
    val fromProps = queryList(
      "SELECT DISTINCT namespace FROM graft_namespace_properties WHERE catalog_name=?",
      name())(_.getString(1))
    val fromTables = queryList(
      "SELECT DISTINCT table_namespace FROM graft_tables WHERE catalog_name=?",
      name())(_.getString(1))
    (fromProps ++ fromTables).distinct.sorted
      .map(_.split("/").toArray.take(1)).distinct.toArray
  }

  override def listNamespaces(ns: Array[String]): Array[Array[String]] = {
    if (ns.isEmpty) return listNamespaces()
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    val prefix = nsKey(ns.toSeq) + "/"
    queryList(
      "SELECT DISTINCT namespace FROM graft_namespace_properties WHERE catalog_name=?",
      name())(_.getString(1))
      .filter(_.startsWith(prefix))
      .map(s => ns :+ s.stripPrefix(prefix).split("/")(0)).distinct.toArray
  }

  override def loadNamespaceMetadata(ns: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    queryList(
      "SELECT property_key, property_value FROM graft_namespace_properties WHERE catalog_name=? AND namespace=?",
      name(), nsKey(ns.toSeq))(rs => rs.getString(1) -> rs.getString(2))
      .filterNot(_._1 == "exists").toMap
      .updated("location", nsKey(ns.toSeq)).asJava
  }

  /** Namespace properties persist in the JDBC store (C5 — the Hadoop
    * variant refuses, ref :319-328; the JDBC variant diffs into
    * insert/update/delete, ref :405-457). */
  override def alterNamespace(ns: Array[String], changes: NamespaceChange*): Unit = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    changes.foreach {
      case s: NamespaceChange.SetProperty =>
        val n = update(
          "UPDATE graft_namespace_properties SET property_value=? WHERE catalog_name=? AND namespace=? AND property_key=?",
          s.value(), name(), nsKey(ns.toSeq), s.property())
        if (n == 0) update(
          "INSERT INTO graft_namespace_properties (catalog_name, namespace, property_key, property_value) VALUES (?,?,?,?)",
          name(), nsKey(ns.toSeq), s.property(), s.value())
      case r: NamespaceChange.RemoveProperty =>
        update(
          "DELETE FROM graft_namespace_properties WHERE catalog_name=? AND namespace=? AND property_key=?",
          name(), nsKey(ns.toSeq), r.property())
      case _ =>
    }
  }

  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(ns)) return false
    val tables = listTables(ns)
    val views = if (isV1) listViews(ns.toIndexedSeq: _*) else Array.empty[Identifier]
    if ((tables.nonEmpty || views.nonEmpty) && !cascade)
      throw new NonEmptyNamespaceException(ns)
    tables.foreach(dropTable)
    views.foreach(dropView)
    update("DELETE FROM graft_namespace_properties WHERE catalog_name=? AND namespace=?",
      name(), nsKey(ns.toSeq))
    Io.deleteRecursiveChecked(dirOf(ns.toSeq))
    true
  }

  // ---- tables ------------------------------------------------------

  override def listTables(ns: Array[String]): Array[Identifier] =
    queryList(
      "SELECT table_name FROM graft_tables WHERE catalog_name=? AND table_namespace=?" + tableRowCond,
      name(), nsKey(ns.toSeq))(rs => Identifier.of(ns, rs.getString(1))).toArray

  override def tableExists(ident: Identifier): Boolean =
    queryList(
      "SELECT 1 FROM graft_tables WHERE catalog_name=? AND table_namespace=? AND table_name=?" + tableRowCond,
      name(), nsKey(ident.namespace().toSeq), ident.name())(_ => 1).nonEmpty

  /** A view with the same name blocks table creation in V1 stores
    * (ref ViewAwareTableBuilder, JdbcRelativeCatalog.java:674-692). */
  override def createTable(ident: Identifier, schema: org.apache.spark.sql.types.StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: util.Map[String, String]): Table = {
    if (isV1 && viewExists(ident)) throw new TableAlreadyExistsException(ident)
    super.createTable(ident, schema, partitions, properties)
  }

  // same view-clash guard as createTable (a V1 view may hold the name)
  override def stageCreate(ident: Identifier, schema: org.apache.spark.sql.types.StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (isV1 && viewExists(ident)) throw new TableAlreadyExistsException(ident)
    super.stageCreate(ident, schema, partitions, properties)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val n = update(
      "DELETE FROM graft_tables WHERE catalog_name=? AND table_namespace=? AND table_name=?" + tableRowCond,
      name(), nsKey(ident.namespace().toSeq), ident.name())
    if (n == 1) {
      Io.deleteRecursiveChecked(dirOf(ident.namespace().toSeq :+ ident.name()))
      true
    } else false
  }

  /** The rename's commit point: the remapped metadata lands as a new
    * version under the moved directory through the normal commit path,
    * with the pointer CAS also moving the row to the new name
    * (ref JdbcRelativeCatalog.java:247-284). */
  override protected def commitRename(oldIdent: Identifier, newIdent: Identifier,
      base: Int, meta: TableMeta): Unit =
    new JdbcTableOps(tableLocation(newIdent), nsKey(oldIdent.namespace().toSeq),
      oldIdent.name(), movesTo = Some(newIdent)).commit(base, meta): Unit

  /** Attach an EXISTING on-disk table to this catalog — Iceberg's
    * `register_table`, the disaster-recovery path when the warehouse
    * directory survived but the catalog database did not (or a table
    * is being adopted from another JDBC catalog over the same files).
    * Pure pointer insert: nothing on disk is read-modified; the given
    * metadata file becomes the table's current version. The location
    * must match the identifier's derived directory (this catalog
    * FORCES relative locations from identifiers — C6 — so a register
    * under a mismatched name would brick rename/drop path handling),
    * and the file must parse as table metadata before the row lands
    * (refuse to register garbage a reader would then trip over).
    */
  def registerTable(ident: Identifier, metadataLocation: String): GraftTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    if (isV1 && viewExists(ident)) throw new TableAlreadyExistsException(ident)
    if (ident.namespace().nonEmpty && !namespaceExists(ident.namespace()))
      throw new NoSuchNamespaceException(ident.namespace())
    require(!metadataLocation.startsWith("/") && !metadataLocation.contains(":/"),
      s"metadata location must be warehouse-relative: $metadataLocation")
    // '..' segments would let a path that PASSES the directory-prefix
    // check below resolve OUTSIDE the identifier's derived directory —
    // exactly the mismatch that check exists to refuse (add_files and
    // migrate reject them the same way)
    require(!metadataLocation.split('/').contains(".."),
      s"metadata location must not contain '..' segments: $metadataLocation")
    val expectedDir = s"${tableLocation(ident)}/metadata/"
    require(metadataLocation.startsWith(expectedDir),
      s"metadata location $metadataLocation is outside the identifier's " +
        s"table directory ($expectedDir) — register under the matching name")
    // the version counter for future commits parses off the filename
    // (vN or vN-uuid — both catalogs' naming); refuse names it can't read
    require(metadataLocation.substring(metadataLocation.lastIndexOf('/') + 1)
        .matches("v\\d+([.-].*)?\\.metadata\\.json"),
      s"metadata filename must be v<N>[-uuid].metadata.json: $metadataLocation")
    val ops = opsFor(ident)
    val abs = graft.meta.RelPaths.absolutize(warehouse, metadataLocation)
    require(Io.exists(abs), s"metadata file not found: $metadataLocation")
    ops.parseMeta(ops.readMetadataString(abs)) // must parse, or refuse
    try {
      if (insertTableRow(nsKey(ident.namespace().toSeq), ident.name(), metadataLocation) != 1)
        throw new TableAlreadyExistsException(ident)
    } catch {
      case e: SQLException if Option(e.getSQLState).exists(_.startsWith("23")) =>
        throw new TableAlreadyExistsException(ident)
    }
    loadTable(ident).asInstanceOf[GraftTable]
  }

  // ---- views (V1 stores only: rows in graft_tables with
  // record_type='VIEW', metadata_location pointing at the ViewDef
  // JSON under the namespace dir — the row is the source of truth for
  // existence; ref JdbcRelativeCatalog.java:476-547 + JdbcViewOperations).
  // V0 stores refuse every view operation with a pointer to the
  // migration switch, exactly like the reference
  // (VIEW_WARNING_LOG_MESSAGE, ref :52,196-201). -----------------------

  private def requireV1(): Unit =
    if (!isV1) throw new UnsupportedOperationException(viewUnsupportedMsg)

  private def viewPointer(ident: Identifier): Option[String] =
    if (!isV1) None
    else queryList(
      "SELECT metadata_location FROM graft_tables WHERE catalog_name=? AND table_namespace=? AND table_name=? AND record_type='VIEW'",
      name(), nsKey(ident.namespace().toSeq), ident.name())(_.getString(1)).headOption

  /** Analyzer hot-path cache, positive AND negative (same contract as
    * the path catalog's: ResolveGraftViews probes every relation naming
    * this catalog per fixed-point iteration; uncached that is one DB
    * round-trip per relation per analysis). DDL never trusts the
    * cache for its own guards — createView's PK insert and the rename
    * CAS detect racers at the DB — so a stale negative can only delay
    * view visibility, never corrupt. */
  private val viewProbe = scala.collection.concurrent.TrieMap.empty[String, Boolean]

  private def viewKey(ident: Identifier): String =
    nsKey(ident.namespace().toSeq) + "\u0000" + ident.name()

  override def invalidateViewCache(): Unit = viewProbe.clear()

  override def viewExists(ident: Identifier): Boolean =
    viewProbe.getOrElseUpdate(viewKey(ident), viewPointer(ident).isDefined)

  override def listViews(ns: String*): Array[Identifier] = {
    requireV1()
    queryList(
      "SELECT table_name FROM graft_tables WHERE catalog_name=? AND table_namespace=? AND record_type='VIEW'",
      name(), nsKey(ns))(rs => Identifier.of(ns.toArray, rs.getString(1))).toArray
  }

  override def loadView(ident: Identifier): View = {
    requireV1()
    val loc = viewPointer(ident).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))
    new GraftView(ViewDef.fromJson(Io.readString(
      graft.meta.RelPaths.absolutize(warehouse, loc))))
  }

  /** Write the definition under the namespace dir with a unique
    * suffix (losing racers must only ever delete their own file) and
    * return its warehouse-relative path for the catalog row. */
  private def writeViewDef(ident: Identifier, d: ViewDef): String = {
    val dir = dirOf(ident.namespace().toSeq)
    Io.mkdirs(dir)
    val f =
      s"$dir/${ident.name()}-${java.util.UUID.randomUUID().toString.take(8)}.view.json"
    Io.writeString(f, ViewDef.toJson(d))
    graft.meta.RelPaths.relativize(warehouse, f)
  }

  override def createView(info: ViewInfo): View = {
    requireV1()
    val ident = info.ident()
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // fresh probe (not the cache); the PK insert below is the real
    // guard against a racer either way
    if (viewPointer(ident).isDefined)
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    if (ident.namespace().nonEmpty && !namespaceExists(ident.namespace()))
      throw new NoSuchNamespaceException(ident.namespace())
    val d = mkViewDef(info)
    val loc = writeViewDef(ident, d)
    try update(
      "INSERT INTO graft_tables (catalog_name, table_namespace, table_name, metadata_location, previous_metadata_location, record_type) VALUES (?,?,?,?,NULL,'VIEW')",
      name(), nsKey(ident.namespace().toSeq), ident.name(), loc)
    catch { case e: SQLException =>
      Io.deleteIfExists(graft.meta.RelPaths.absolutize(warehouse, loc))
      // only an integrity-constraint violation (SQLState class 23,
      // e.g. Derby 23505) means "a racer won"; any other SQL error
      // (dropped connection, disk full) must surface as-is and MUST
      // NOT poison the probe cache with a view that may not exist
      if (Option(e.getSQLState).exists(_.startsWith("23"))) {
        viewProbe.put(viewKey(ident), true) // the racer's view exists
        throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
      }
      throw e
    }
    viewProbe.put(viewKey(ident), true)
    new GraftView(d)
  }

  /** Atomic replace via pointer CAS (the same protocol as table
    * commits): readers resolve either the old or the new definition
    * file — never a gap, unlike drop+create. A concurrent replace
    * loses the CAS and throws. */
  override def replaceView(info: ViewInfo): View = {
    requireV1()
    val ident = info.ident()
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // same guard as createView: the create-new branch below must not
    // insert a VIEW row into a namespace that doesn't exist (direct
    // API replace of an absent view, or a drop racing the replace)
    if (ident.namespace().nonEmpty && !namespaceExists(ident.namespace()))
      throw new NoSuchNamespaceException(ident.namespace())
    val d = mkViewDef(info)
    val newLoc = writeViewDef(ident, d)
    // Any error escaping the CAS below — UPDATE branch included — must
    // first delete the just-written definition file: no row will ever
    // point to it, so leaving it behind is a permanent orphan
    val done = try viewPointer(ident) match {
      case Some(oldLoc) =>
        val n = update(
          "UPDATE graft_tables SET metadata_location=?, previous_metadata_location=? WHERE catalog_name=? AND table_namespace=? AND table_name=? AND record_type='VIEW' AND metadata_location=?",
          newLoc, oldLoc, name(), nsKey(ident.namespace().toSeq), ident.name(), oldLoc)
        if (n == 1) Io.deleteIfExists(graft.meta.RelPaths.absolutize(warehouse, oldLoc))
        n == 1
      case None =>
        try {
          update(
            "INSERT INTO graft_tables (catalog_name, table_namespace, table_name, metadata_location, previous_metadata_location, record_type) VALUES (?,?,?,?,NULL,'VIEW')",
            name(), nsKey(ident.namespace().toSeq), ident.name(), newLoc)
          true
        } catch { case e: SQLException
            // PK violation = lost the race (cleanup happens in the
            // !done branch below); anything else rides the outer catch
            if Option(e.getSQLState).exists(_.startsWith("23")) => false
        }
    } catch { case e: Throwable =>
      Io.deleteIfExists(graft.meta.RelPaths.absolutize(warehouse, newLoc))
      throw e
    }
    if (!done) {
      Io.deleteIfExists(graft.meta.RelPaths.absolutize(warehouse, newLoc))
      throw new CommitFailedException(
        s"concurrent replace of view ${ident.name()} (pointer CAS failed)")
    }
    viewProbe.put(viewKey(ident), true)
    new GraftView(d)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    requireV1()
    val oldLoc = viewPointer(ident).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))
    val d0 = ViewDef.fromJson(Io.readString(
      graft.meta.RelPaths.absolutize(warehouse, oldLoc)))
    val d = changes.foldLeft(d0) {
      case (d, sp: ViewChange.SetProperty) =>
        d.copy(properties = d.properties + (sp.property() -> sp.value()))
      case (d, rp: ViewChange.RemoveProperty) =>
        d.copy(properties = d.properties - rp.property())
      case (d, _) => d
    }
    val newLoc = writeViewDef(ident, d)
    // pointer CAS, same protocol as table commits: the loser's file is
    // removed and the caller retries on fresh state
    val n = update(
      "UPDATE graft_tables SET metadata_location=?, previous_metadata_location=? WHERE catalog_name=? AND table_namespace=? AND table_name=? AND record_type='VIEW' AND metadata_location=?",
      newLoc, oldLoc, name(), nsKey(ident.namespace().toSeq), ident.name(), oldLoc)
    if (n != 1) {
      Io.deleteIfExists(graft.meta.RelPaths.absolutize(warehouse, newLoc))
      throw new CommitFailedException(
        s"concurrent update to view ${ident.name()} (pointer CAS failed)")
    }
    Io.deleteIfExists(graft.meta.RelPaths.absolutize(warehouse, oldLoc))
    new GraftView(d)
  }

  override def dropView(ident: Identifier): Boolean = {
    requireV1()
    viewPointer(ident) match {
      case None =>
        viewProbe.put(viewKey(ident), false)
        false
      case Some(loc) =>
        val n = update(
          "DELETE FROM graft_tables WHERE catalog_name=? AND table_namespace=? AND table_name=? AND record_type='VIEW'",
          name(), nsKey(ident.namespace().toSeq), ident.name())
        if (n == 1)
          Io.deleteIfExists(graft.meta.RelPaths.absolutize(warehouse, loc))
        viewProbe.put(viewKey(ident), false)
        n == 1
    }
  }

  override def renameView(oldIdent: Identifier, rawNewIdent: Identifier): Unit = {
    requireV1()
    val newIdent = unqualified(rawNewIdent)
    val oldLoc = viewPointer(oldIdent).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(oldIdent))
    if (viewPointer(newIdent).isDefined || tableExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(newIdent)
    val d = ViewDef.fromJson(Io.readString(
      graft.meta.RelPaths.absolutize(warehouse, oldLoc)))
    val newLoc = writeViewDef(newIdent, d.copy(name = newIdent.name()))
    try {
      val n = update(
        "UPDATE graft_tables SET table_namespace=?, table_name=?, metadata_location=? WHERE catalog_name=? AND table_namespace=? AND table_name=? AND record_type='VIEW' AND metadata_location=?",
        nsKey(newIdent.namespace().toSeq), newIdent.name(), newLoc,
        name(), nsKey(oldIdent.namespace().toSeq), oldIdent.name(), oldLoc)
      if (n != 1) {
        Io.deleteIfExists(graft.meta.RelPaths.absolutize(warehouse, newLoc))
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(oldIdent)
      }
      Io.deleteIfExists(graft.meta.RelPaths.absolutize(warehouse, oldLoc))
      viewProbe.put(viewKey(newIdent), true)
      viewProbe.put(viewKey(oldIdent), false)
    } catch {
      case _: SQLException => // PK violation: target appeared concurrently
        Io.deleteIfExists(graft.meta.RelPaths.absolutize(warehouse, newLoc))
        viewProbe.put(viewKey(newIdent), true)
        throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(newIdent)
    }
  }
}
