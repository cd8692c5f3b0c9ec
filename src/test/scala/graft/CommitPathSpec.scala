package graft

import graft.catalog.{CommitConflictException, CommitFailedException, GraftTable, JdbcRelativeCatalog, Maintenance, RelativeCatalog, TableOps}
import graft.meta.{DataFile, Manifest, RelPaths}
import org.apache.spark.sql.connector.catalog.Identifier
import org.scalatest.funsuite.AnyFunSuite

/** A path catalog whose commit point loses every race while
  * [[LosingCatalog.losing]] is set, counting the attempts that reach it. */
class LosingCatalog extends RelativeCatalog {
  override protected def opsFor(ident: Identifier): TableOps =
    new TableOps(warehouse, tableLocation(ident), catalogProps) {
      override protected def finalizeRename(tmp: String, target: String): Boolean =
        if (LosingCatalog.losing) { LosingCatalog.attempts.incrementAndGet(); false }
        else super.finalizeRename(tmp, target)
    }
}

object LosingCatalog {
  @volatile var losing = false
  val attempts = new java.util.concurrent.atomic.AtomicInteger
}

/** The one commit path: the shared half of the commit protocol runs
  * for both catalogs, rename commits a new version, and every
  * metadata change goes through the one OCC retry loop.
  */
class CommitPathSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def fresh(path: String): String = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    path
  }

  /** A path catalog and a JDBC catalog, each over its own warehouse. */
  private def bothCatalogs(tag: String): Seq[(String, String)] = {
    val path = fresh(s"/tmp/graft_test_cp_${tag}_path")
    spark.conf.set(s"spark.sql.catalog.cp${tag}P", "graft.catalog.RelativeCatalog")
    spark.conf.set(s"spark.sql.catalog.cp${tag}P.warehouse", path)
    val jdbc = fresh(s"/tmp/graft_test_cp_${tag}_jdbc")
    spark.conf.set(s"spark.sql.catalog.cp${tag}J", "graft.catalog.JdbcRelativeCatalog")
    spark.conf.set(s"spark.sql.catalog.cp${tag}J.warehouse", jdbc)
    Seq(s"cp${tag}P" -> path, s"cp${tag}J" -> jdbc)
  }

  private def catalog(c: String): RelativeCatalog =
    spark.sessionState.catalogManager.catalog(c).asInstanceOf[RelativeCatalog]

  private def table(c: String, ns: String, t: String): GraftTable =
    catalog(c).loadTable(Identifier.of(Array(ns), t)).asInstanceOf[GraftTable]

  /** The metadata file the catalog currently names for `t`. */
  private def currentFile(c: String, wh: String, ns: String, t: String): String =
    table(c, ns, t).ops match {
      case j: JdbcRelativeCatalog#JdbcTableOps => RelPaths.absolutize(wh, j.pointer.get)
      case ops => ops.existingMetadataFile(ops.findVersion()).get
    }

  test("both catalogs reject an absolute data, delete, manifest or manifest-list path alike") {
    val errors = bothCatalogs("abs").map { case (c, _) =>
      spark.sql(s"CREATE NAMESPACE $c.n")
      spark.sql(s"CREATE TABLE $c.n.t (id BIGINT)")
      spark.sql(s"INSERT INTO $c.n.t VALUES (1)")
      val ops = table(c, "n", "t").ops
      val (v, meta) = ops.refresh().get
      val snap = meta.currentSnapshot.get
      val absolute = Seq(
        snap.copy(files = List(DataFile("/elsewhere/d.parquet", 1L, 1L))),
        snap.copy(deleteFiles = List(DataFile("/elsewhere/del.parquet", 1L, 1L))),
        snap.copy(manifests = List(Manifest("/elsewhere/m.json", 1))),
        snap.copy(manifestList = Some("/elsewhere/list.json")))
      val msgs = absolute.map { s =>
        intercept[IllegalArgumentException] {
          ops.commit(v, meta.copy(snapshots = List(s)))
        }.getMessage
      }
      assert(ops.refresh().get._1 == v, s"$c: a rejected commit must not land")
      msgs
    }
    assert(errors.head.forall(_.contains("must be warehouse-relative")), errors.head)
    assert(errors(0) == errors(1))
  }

  test("JDBC honours the gzip metadata codec: v<N>-<tag>.gz files refresh, read and register") {
    val wh = fresh("/tmp/graft_test_cp_gz")
    spark.conf.set("spark.sql.catalog.cpGz", "graft.catalog.JdbcRelativeCatalog")
    spark.conf.set("spark.sql.catalog.cpGz.warehouse", wh)
    spark.sql("CREATE NAMESPACE cpGz.n")
    spark.sql("CREATE TABLE cpGz.n.t (id BIGINT) " +
      "TBLPROPERTIES ('write.metadata.compression-codec'='gzip')")
    spark.sql("INSERT INTO cpGz.n.t VALUES (1), (2), (3)")
    val file = currentFile("cpGz", wh, "n", "t")
    val name = file.substring(file.lastIndexOf('/') + 1)
    assert(name.matches("v2-[0-9a-f]{8}\\.gz\\.metadata\\.json"), name)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file))
    assert((bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b, "not gzip bytes")
    assert(table("cpGz", "n", "t").ops.refresh().get._1 == 2)
    assert(spark.sql("SELECT COUNT(*) FROM cpGz.n.t").collect()(0).getLong(0) == 3)

    // a second JDBC catalog over the same files adopts the gz version
    val db = fresh("/tmp/graft_test_cp_gz_db2")
    spark.conf.set("spark.sql.catalog.cpGz2", "graft.catalog.JdbcRelativeCatalog")
    spark.conf.set("spark.sql.catalog.cpGz2.warehouse", wh)
    spark.conf.set("spark.sql.catalog.cpGz2.uri", s"jdbc:derby:$db;create=true")
    spark.sql("CREATE NAMESPACE cpGz2.n")
    catalog("cpGz2").asInstanceOf[JdbcRelativeCatalog]
      .registerTable(Identifier.of(Array("n"), "t"), RelPaths.relativize(wh, file))
    assert(spark.sql("SELECT SUM(id) FROM cpGz2.n.t").collect()(0).getLong(0) == 6)
    spark.sql("INSERT INTO cpGz2.n.t VALUES (4)")
    assert(spark.sql("SELECT COUNT(*) FROM cpGz2.n.t").collect()(0).getLong(0) == 4)
  }

  test("rename commits a new version and never rewrites an existing metadata file") {
    bothCatalogs("ren").foreach { case (c, wh) =>
      spark.sql(s"CREATE NAMESPACE $c.n")
      spark.sql(s"CREATE TABLE $c.n.a (id BIGINT)")
      spark.sql(s"INSERT INTO $c.n.a VALUES (7)")
      val before = currentFile(c, wh, "n", "a")
      val name = before.substring(before.lastIndexOf('/') + 1)
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(before))
      val v = table(c, "n", "a").ops.findVersion()

      spark.sql(s"ALTER TABLE $c.n.a RENAME TO $c.n.b")
      val moved = java.nio.file.Paths.get(s"$wh/n/b/metadata/$name")
      assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(moved), bytes),
        s"$c: $name was rewritten by the rename")
      val after = currentFile(c, wh, "n", "b")
      assert(after != moved.toString, s"$c: the rename did not commit a new version")
      assert(table(c, "n", "b").ops.findVersion() == v + 1)
      assert(spark.sql(s"SELECT id FROM $c.n.b").collect()(0).getLong(0) == 7)
    }
  }

  test("rename remaps only paths under the table's own directory") {
    // a zero-copy snapshot references its source's files in place; the
    // source `n/tt` shares the prefix `n/t` of the copy being renamed
    val wh = fresh("/tmp/graft_test_cp_prefix")
    spark.conf.set("spark.sql.catalog.cpPre", "graft.catalog.RelativeCatalog")
    spark.conf.set("spark.sql.catalog.cpPre.warehouse", wh)
    spark.sql("CREATE NAMESPACE cpPre.n")
    spark.sql("CREATE TABLE cpPre.n.tt (id BIGINT)")
    spark.sql("INSERT INTO cpPre.n.tt VALUES (1), (2)")
    catalog("cpPre").snapshotTable(Identifier.of(Array("n"), "tt"), Identifier.of(Array("n"), "t"))
    spark.sql("ALTER TABLE cpPre.n.t RENAME TO cpPre.n.u")
    assert(table("cpPre", "n", "u").readSnapshot.toList
      .flatMap(table("cpPre", "n", "u").ops.allFiles).forall(_.path.startsWith("n/tt/")))
    assert(spark.sql("SELECT SUM(id) FROM cpPre.n.u").collect()(0).getLong(0) == 3)
  }

  test("the retry loop: an always-losing commit point stops after 10 attempts, one error") {
    val wh = fresh("/tmp/graft_test_cp_lose")
    spark.conf.set("spark.sql.catalog.cpLose", "graft.LosingCatalog")
    spark.conf.set("spark.sql.catalog.cpLose.warehouse", wh)
    spark.sql("CREATE NAMESPACE cpLose.n")
    spark.sql("CREATE TABLE cpLose.n.t (id BIGINT) TBLPROPERTIES ('write.merge-schema'='true')")
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO cpLose.n.t VALUES ($i)"))
    def t = table("cpLose", "n", "t")
    import spark.implicits._
    val ops: Seq[(String, () => Unit)] = Seq(
      "INSERT" -> (() => spark.sql("INSERT INTO cpLose.n.t VALUES (9)").collect(): Unit),
      "expire_snapshots" -> (() => spark.sql(
        "CALL cpLose.system.expire_snapshots(tbl => 'n.t', keep_last => 1)").collect(): Unit),
      "create_ref" -> (() => spark.sql(
        "CALL cpLose.system.create_ref(tbl => 'n.t', ref => 'audit')").collect(): Unit),
      "merge-schema write" -> (() => Seq((9L, "x")).toDF("id", "note")
        .writeTo("cpLose.n.t").option("merge-schema", "true").append()),
      "updateSpec" -> (() => Maintenance.updateSpec(t, Seq("id" -> "bucket[4]"))))
    val v = t.ops.findVersion()
    try ops.foreach { case (name, run) =>
      LosingCatalog.attempts.set(0)
      LosingCatalog.losing = true
      val e = intercept[Exception](run())
      LosingCatalog.losing = false
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toList
      assert(chain.exists(x => x.isInstanceOf[CommitFailedException] &&
        x.getMessage.endsWith("commit retries exhausted")), s"$name: $e")
      assert(LosingCatalog.attempts.get == TableOps.MaxAttempts, name)
    } finally LosingCatalog.losing = false
    assert(t.ops.findVersion() == v, "nothing landed")

    var calls = 0
    val conflict = new CommitConflictException("base moved incompatibly")
    val thrown = intercept[CommitConflictException] {
      t.ops.commitRetrying("conflict") { (_, _) => calls += 1; throw conflict }
    }
    assert((thrown eq conflict) && calls == 1)
  }
}
