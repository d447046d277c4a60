package graft.catalog

import graft.core._

import java.nio.file.Files
import java.util.UUID

/** The full store contract against the durable JDBC (Derby) backend —
  * same suites the in-memory store passes, plus durability: the
  * catalog must survive a store restart (reference: Postgres rows are
  * the source of truth; a server process is stateless). */
class JdbcCatalogStoreSpec extends CatalogStoreContract {
  protected def newStore(): CatalogStore =
    JdbcCatalogStore.embedded(
      Files.createTempDirectory("graft-derby").resolve("db"))

  test("catalog survives a store restart (rows are durable)") {
    import IType._
    val dir = Files.createTempDirectory("graft-derby-restart").resolve("db")
    val project = UUID.randomUUID()
    val whLoc = Files.createTempDirectory("graft-wh").toUri.toString.stripSuffix("/")
    val schema = Schema(0, Seq(NestedField.required(1, "id", TInt)))
    val t0 = 1700000000000L

    val store1 = JdbcCatalogStore.embedded(dir)
    val wh = store1.createWarehouse(project, "wh", whLoc)
      .fold(e => fail(e.message), identity).id
    assert(store1.createNamespace(wh, Seq("ns"), Map("owner" -> "a")).isRight)
    assert(store1.createTable(wh, Seq("ns"), "t", schema,
      UnboundPartitionSpec.Unpartitioned, None, Map("k" -> "v"),
      stageCreate = false, timestampMs = t0).isRight)
    val committed = store1.commitTable(wh, TableIdent(Seq("ns"), "t"),
      Seq(TableRequirement.AssertRefSnapshotId("main", None)),
      Seq(TableUpdate.AddSnapshot(Snapshot(7L, None, 1L, t0 + 1,
        "manifests/7.json", Map("operation" -> "append"), Some(0))),
        TableUpdate.SetSnapshotRef("main", 7L, SnapshotRefType.Branch)),
      t0 + 1).fold(e => fail(e.message), identity)

    // a brand-new store instance over the same database sees everything
    val store2 = JdbcCatalogStore.embedded(dir)
    assert(store2.warehouseByName(project, "wh").map(_.id) === Right(wh))
    assert(store2.getNamespace(wh, Seq("ns")).map(_.properties) ===
      Right(Map("owner" -> "a")))
    val reloaded = store2.loadTable(wh, TableIdent(Seq("ns"), "t"))
      .fold(e => fail(e.message), identity)
    assert(reloaded.metadata === committed.metadata)
    assert(reloaded.metadata.currentSnapshotId === Some(7L))
    assert(reloaded.metadata.properties.get("k") === Some("v"))

    // and commits keep working across the restart (guarded, linear)
    assert(store2.commitTable(wh, TableIdent(Seq("ns"), "t"),
      Seq(TableRequirement.AssertRefSnapshotId("main", Some(7L))),
      Seq(TableUpdate.AddSnapshot(Snapshot(8L, Some(7L), 2L, t0 + 2,
        "manifests/8.json", Map("operation" -> "append"), Some(0))),
        TableUpdate.SetSnapshotRef("main", 8L, SnapshotRefType.Branch)),
      t0 + 2).isRight)

    // views are rows too: they survive the restart with their version
    // history, and view commits keep working against the reopened store
    val ver = ViewVersion(1, t0, 0, Map("operation" -> "create"),
      Seq(ViewRepresentation("spark", "SELECT 1 AS one")), Some("cat"), Seq("ns"))
    val created = store2.createView(wh, Seq("ns"), "v", schemaOf(store2), ver,
      Map("team" -> "data"), t0 + 3).fold(e => fail(e.message), identity)
    val store3 = JdbcCatalogStore.embedded(dir)
    val reloadedView = store3.loadView(wh, TableIdent(Seq("ns"), "v"))
      .fold(e => fail(e.message), identity)
    assert(reloadedView.metadata === created.metadata)
    assert(store3.commitView(wh, TableIdent(Seq("ns"), "v"),
      Seq(ViewRequirement.AssertViewUuid(created.metadata.viewUuid)),
      Seq(ViewUpdate.SetProperties(Map("tier" -> "gold"))), t0 + 4).isRight)
  }

  // ------------------------------------------ parsed-metadata cache
  private val cacheT0 = 1700000000000L
  private val cacheSchema = {
    import IType._
    Schema(0, Seq(NestedField.required(1, "id", TInt)))
  }

  /** A store over a fresh database with one warehouse and namespace `ns`. */
  private def cacheFixture(dir: java.nio.file.Path): (JdbcCatalogStore, UUID) = {
    val store = JdbcCatalogStore.embedded(dir)
    val whLoc = Files.createTempDirectory("graft-wh").toUri.toString.stripSuffix("/")
    val wh = store.createWarehouse(UUID.randomUUID(), "wh", whLoc)
      .fold(e => fail(e.message), identity).id
    assert(store.createNamespace(wh, Seq("ns"), Map.empty).isRight)
    (store, wh)
  }

  private def createCached(store: CatalogStore, wh: UUID, name: String,
      staged: Boolean = false): TableRecord =
    store.createTable(wh, Seq("ns"), name, cacheSchema, UnboundPartitionSpec.Unpartitioned,
      None, Map.empty, stageCreate = staged, timestampMs = cacheT0)
      .fold(e => fail(e.message), identity)

  private def append(store: CatalogStore, wh: UUID, ident: TableIdent,
      parent: Option[Long], id: Long): Either[CatalogError, TableRecord] =
    store.commitTable(wh, ident,
      Seq(TableRequirement.AssertRefSnapshotId("main", parent)),
      Seq(TableUpdate.AddSnapshot(Snapshot(id, parent, id, cacheT0 + id,
        s"manifests/$id.avro", Map("operation" -> "append"), Some(0))),
        TableUpdate.SetSnapshotRef("main", id, SnapshotRefType.Branch)),
      cacheT0 + id)

  test("parsed-metadata cache: a commit through a second store on one DB is seen by the next load") {
    val dir = Files.createTempDirectory("graft-derby-shared").resolve("db")
    val (a, wh) = cacheFixture(dir)
    val b = JdbcCatalogStore.embedded(dir)
    val ident = TableIdent(Seq("ns"), "t")
    createCached(a, wh, "t")
    val first = a.loadTable(wh, ident).fold(e => fail(e.message), identity)
    assert(a.cachedMetadataLocations.contains(first.metadataLocation.get))

    val viaB = append(b, wh, ident, None, 1L).fold(e => fail(e.message), identity)
    val seenByA = a.loadTable(wh, ident).fold(e => fail(e.message), identity)
    assert(seenByA.metadataLocation === viaB.metadataLocation)
    assert(seenByA.metadata === viaB.metadata)
    assert(seenByA.metadata.currentSnapshotId === Some(1L))

    // A commits on top of B's version; B, holding its own older entry,
    // loads A's version and a stale writer through B still gets 409
    val viaA = append(a, wh, ident, Some(1L), 2L).fold(e => fail(e.message), identity)
    assert(b.loadTable(wh, ident).map(_.metadata) === Right(viaA.metadata))
    assert(append(b, wh, ident, Some(1L), 3L).left.exists(_.code === 409))
    assert(a.loadTable(wh, ident).map(_.metadata.currentSnapshotId) === Right(Some(2L)))
  }

  test("parsed-metadata cache: staged rows (no metadata location) are never cached") {
    val (store, wh) = cacheFixture(
      Files.createTempDirectory("graft-derby-staged").resolve("db"))
    val ident = TableIdent(Seq("ns"), "staged")
    createCached(store, wh, "staged", staged = true)
    assert(store.loadTable(wh, ident).left.exists(_.code === 404))
    assert(store.tableExists(wh, ident) === Right(false))
    assert(store.cachedMetadataLocations.isEmpty)

    // finalizing the staged table caches the location it wrote, only that
    val done = append(store, wh, ident, None, 1L).fold(e => fail(e.message), identity)
    assert(store.cachedMetadataLocations === done.metadataLocation.toSet)
  }

  test("parsed-metadata cache: loading more tables than the bound stays within it") {
    val (store, wh) = cacheFixture(
      Files.createTempDirectory("graft-derby-bound").resolve("db"))
    val bound = JdbcCatalogStore.MetadataCacheEntries
    val names = (0 until bound + 8).map(i => f"t$i%03d")
    val created = names.map(n => n -> createCached(store, wh, n)).toMap
    names.foreach { n =>
      assert(store.loadTable(wh, TableIdent(Seq("ns"), n)).map(_.metadataLocation) ===
        Right(created(n).metadataLocation))
      assert(store.cachedMetadataLocations.size <= bound)
    }
    assert(store.cachedMetadataLocations.size === bound)
    // least recently used went first; reloading an evicted table re-parses it
    assert(!store.cachedMetadataLocations.contains(created(names.head).metadataLocation.get))
    assert(store.cachedMetadataLocations.contains(created(names.last).metadataLocation.get))
    assert(store.loadTable(wh, TableIdent(Seq("ns"), names.head)).map(_.metadata) ===
      Right(created(names.head).metadata))
    assert(store.cachedMetadataLocations.size === bound)
  }

  test("parsed-metadata cache: a commit drops the location it replaced") {
    val (store, wh) = cacheFixture(
      Files.createTempDirectory("graft-derby-replace").resolve("db"))
    val ident = TableIdent(Seq("ns"), "t")
    val created = createCached(store, wh, "t")
    assert(store.loadTable(wh, ident).isRight)
    val old = created.metadataLocation.get
    assert(store.cachedMetadataLocations === Set(old))

    val next = append(store, wh, ident, None, 1L).fold(e => fail(e.message), identity)
    assert(store.cachedMetadataLocations === next.metadataLocation.toSet)
    assert(!store.cachedMetadataLocations.contains(old))
    assert(store.loadTable(wh, ident).map(_.metadata) === Right(next.metadata))
    // a refused commit leaves the cache as it was
    assert(append(store, wh, ident, None, 2L).left.exists(_.code === 409))
    assert(store.cachedMetadataLocations === next.metadataLocation.toSet)
  }

  // ---------------------------------------------------------- row bytes
  private def rowBytes(dir: java.nio.file.Path, name: String): (Array[Byte], String) = {
    val c = java.sql.DriverManager.getConnection(s"jdbc:derby:${dir.toAbsolutePath}")
    try {
      val ps = c.prepareStatement("SELECT metadata, metadata_location FROM tbls WHERE name = ?")
      ps.setString(1, name)
      val rs = ps.executeQuery()
      assert(rs.next())
      (rs.getBytes(1), rs.getString(2))
    } finally c.close()
  }

  test("row bytes: each create and commit stores exactly the file's gzip bytes") {
    val dir = Files.createTempDirectory("graft-derby-bytes").resolve("db")
    val (store, wh) = cacheFixture(dir)
    val ident = TableIdent(Seq("ns"), "t")
    def check(rec: TableRecord): Unit = {
      val (bytes, loc) = rowBytes(dir, "t")
      assert(rec.metadataLocation.contains(loc))
      assert(bytes.sameElements(Files.readAllBytes(MetadataIO.toPath(loc))))
      assert(MetadataIO.decode(bytes) === Right(rec.metadata))
      assert((bytes(0) & 0xff) === 0x1f && (bytes(1) & 0xff) === 0x8b)
    }
    check(createCached(store, wh, "t"))
    check(append(store, wh, ident, None, 1L).fold(e => fail(e.message), identity))
  }

  test("upgrade: a database with the text metadata column is converted on open") {
    val dir = Files.createTempDirectory("graft-derby-upgrade").resolve("db")
    val whLoc = Files.createTempDirectory("graft-wh").toUri.toString.stripSuffix("/")
    val wh = UUID.randomUUID()
    val nsId = UUID.randomUUID()
    // a version written by any store, in the old row layout: JSON text
    // in the row, the same document gzip'd at metadata_location
    val old = {
      val mem = new InMemoryCatalogStore
      val w = mem.createWarehouse(UUID.randomUUID(), "wh", whLoc)
        .fold(e => fail(e.message), identity).id
      mem.createNamespace(w, Seq("ns"), Map.empty)
      createCached(mem, w, "t")
    }
    val c = java.sql.DriverManager.getConnection(
      s"jdbc:derby:${dir.toAbsolutePath};create=true")
    try {
      def run(sql: String, args: AnyRef*): Unit = {
        val ps = c.prepareStatement(sql)
        try { args.zipWithIndex.foreach { case (a, i) => ps.setObject(i + 1, a) }; ps.execute() }
        finally ps.close()
      }
      run("""CREATE TABLE warehouses(id VARCHAR(36) PRIMARY KEY,
            |  project_id VARCHAR(36) NOT NULL, name VARCHAR(255) NOT NULL,
            |  location VARCHAR(2048) NOT NULL, active BOOLEAN NOT NULL,
            |  props CLOB NOT NULL, CONSTRAINT wh_name_uniq UNIQUE (project_id, name))""".stripMargin)
      run("""CREATE TABLE namespaces(wh VARCHAR(36) NOT NULL, id VARCHAR(36) NOT NULL,
            |  name VARCHAR(1024) NOT NULL, props CLOB NOT NULL,
            |  PRIMARY KEY (wh, name))""".stripMargin)
      run("""CREATE TABLE tbls(wh VARCHAR(36) NOT NULL, ns VARCHAR(1024) NOT NULL,
            |  name VARCHAR(255) NOT NULL, table_id VARCHAR(36) NOT NULL,
            |  metadata CLOB NOT NULL, metadata_location VARCHAR(2048),
            |  table_location VARCHAR(2048) NOT NULL,
            |  PRIMARY KEY (wh, ns, name))""".stripMargin)
      run("CREATE UNIQUE INDEX tbls_uuid_uniq ON tbls(wh, table_id)")
      run("INSERT INTO warehouses VALUES (?,?,?,?,?,?)", wh.toString,
        UUID.randomUUID().toString, "wh", whLoc, java.lang.Boolean.TRUE, "{}")
      run("INSERT INTO namespaces VALUES (?,?,?,?)", wh.toString, nsId.toString, "ns", "{}")
      run("INSERT INTO tbls VALUES (?,?,?,?,?,?,?)", wh.toString, "ns", "t",
        old.tableId.toString, JsonCodecs.metadataToJson(old.metadata),
        old.metadataLocation.get, old.tableLocation)
    } finally c.close()

    val ident = TableIdent(Seq("ns"), "t")
    val store = JdbcCatalogStore.embedded(dir)
    assert(store.loadTable(wh, ident).map(_.metadata) === Right(old.metadata))
    val (converted, _) = rowBytes(dir, "t")
    assert(converted.sameElements(Files.readAllBytes(MetadataIO.toPath(old.metadataLocation.get))))

    val next = append(store, wh, ident, None, 1L).fold(e => fail(e.message), identity)
    assert(store.createTable(wh, Seq("ns"), "u", cacheSchema, UnboundPartitionSpec.Unpartitioned,
      None, Map.empty, stageCreate = false, timestampMs = cacheT0).isRight)
    val reopened = JdbcCatalogStore.embedded(dir)
    assert(reopened.loadTable(wh, ident).map(_.metadata) === Right(next.metadata))
    assert(reopened.listTables(wh, Seq("ns")).map(_.map(_.name)) === Right(Seq("t", "u")))
    val (bytes, loc) = rowBytes(dir, "t")
    assert(bytes.sameElements(Files.readAllBytes(MetadataIO.toPath(loc))))
  }

  private def schemaOf(s: CatalogStore): Schema = {
    import IType._
    Schema(0, Seq(NestedField.required(1, "one", TInt)))
  }
}

/** Commit races against real DB row locks instead of a JVM monitor. */
class JdbcConcurrentCommitSpec extends ConcurrentCommitContract {
  protected def newStore(): CatalogStore =
    JdbcCatalogStore.embedded(
      Files.createTempDirectory("graft-derby-race").resolve("db"))
}
