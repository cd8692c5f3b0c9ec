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
  *  - views (V1 stores) run the path catalog's view protocol and name
  *    guard; only the view commit point differs: a VIEW row INSERT,
  *    CAS UPDATE or CAS DELETE (ref :476-547)
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
    override protected def commitPoint(base: Int, tmp: String, gzip: Boolean): String = {
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
      target
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
    requireNameFree(ident)
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

  // ---- views: the shared protocol over VIEW rows -------------------
  //
  // V1 stores keep a view as a row in graft_tables with
  // record_type='VIEW' whose metadata_location (the view's pointer)
  // names the ViewDef JSON under the namespace dir; the row is the
  // source of truth for existence (ref JdbcRelativeCatalog.java:476-547
  // + JdbcViewOperations). RelativeCatalog runs the protocol; this
  // catalog supplies the row reads and the commit point. V0 stores
  // refuse every view operation with a pointer to the migration
  // switch, exactly like the reference (VIEW_WARNING_LOG_MESSAGE,
  // ref :52,196-201).

  override protected def requireViews(): Unit =
    if (!isV1) throw new UnsupportedOperationException(viewUnsupportedMsg)

  private val viewRow =
    "catalog_name=? AND table_namespace=? AND table_name=? AND record_type='VIEW'"

  override protected def viewPointer(ident: Identifier): Option[String] =
    if (!isV1) None
    else queryList(s"SELECT metadata_location FROM graft_tables WHERE $viewRow",
      name(), nsKey(ident.namespace().toSeq), ident.name())(_.getString(1)).headOption

  override protected def viewDef(loc: String): ViewDef =
    ViewDef.fromJson(Io.readString(graft.meta.RelPaths.absolutize(warehouse, loc)))

  override protected def viewNames(ns: Seq[String]): Seq[String] =
    queryList(
      "SELECT table_name FROM graft_tables WHERE catalog_name=? AND table_namespace=? AND record_type='VIEW'",
      name(), nsKey(ns))(_.getString(1))

  private def deleteViewFile(loc: String): Unit =
    Io.deleteIfExists(graft.meta.RelPaths.absolutize(warehouse, loc)): Unit

  /** The view commit point, the same protocol as table commits: write
    * the definition to a unique `<name>-<tag>.view.json` (a loser only
    * ever deletes its OWN file), then move the pointer in one
    * statement — INSERT for a new name, a CAS UPDATE that may also move
    * the row (rename), or a CAS DELETE. Zero rows changed, or an
    * integrity violation (SQLState class 23: a racer's row holds the
    * name), is a lost race; any other SQL error (dropped connection,
    * disk full) surfaces as is. The replaced definition file goes once
    * the pointer has moved off it.
    */
  override protected def commitView(from: Identifier, to: Identifier, base: Option[String],
      next: Option[ViewDef]): Unit = {
    val newLoc = next.map { d =>
      val dir = dirOf(to.namespace().toSeq)
      Io.mkdirs(dir)
      val f = s"$dir/${to.name()}-${java.util.UUID.randomUUID().toString.take(8)}.view.json"
      Io.writeString(f, ViewDef.toJson(d))
      graft.meta.RelPaths.relativize(warehouse, f)
    }
    val at = Seq(name(), nsKey(from.namespace().toSeq), from.name())
    val changed =
      try (base, newLoc) match {
        case (None, Some(loc)) => update(
          "INSERT INTO graft_tables (catalog_name, table_namespace, table_name, metadata_location, previous_metadata_location, record_type) VALUES (?,?,?,?,NULL,'VIEW')",
          name(), nsKey(to.namespace().toSeq), to.name(), loc)
        case (Some(old), Some(loc)) => update(
          s"UPDATE graft_tables SET table_namespace=?, table_name=?, metadata_location=?, previous_metadata_location=? WHERE $viewRow AND metadata_location=?",
          Seq(nsKey(to.namespace().toSeq), to.name(), loc, old) ++ at :+ old: _*)
        case (Some(old), None) => update(
          s"DELETE FROM graft_tables WHERE $viewRow AND metadata_location=?", at :+ old: _*)
        case (None, None) => 1 // no view, nothing to publish
      } catch {
        case e: SQLException if Option(e.getSQLState).exists(_.startsWith("23")) => 0
        case e: Throwable => newLoc.foreach(deleteViewFile); throw e
      }
    if (changed != 1) {
      newLoc.foreach(deleteViewFile)
      throw new CommitFailedException(s"concurrent change to view ${from.name()} (pointer CAS failed)")
    }
    base.foreach(deleteViewFile)
  }
}
