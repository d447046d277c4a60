package graft.catalog

import graft.core._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.UUID

/** Store-contract tests ported from the reference's DB-backed suites:
  * namespace lifecycle (postgres/namespace.rs:410-560), the stage-create
  * matrix (postgres/table.rs:855-949), active-warehouse gating
  * (postgres/table.rs:47), and commit-path conflicts. Behavior
  * re-derived from SURVEY.md §2 — no reference code copied.
  */
abstract class CatalogStoreContract extends AnyFunSuite {
  import IType._

  /** The store under test — each call must yield an ISOLATED store. */
  protected def newStore(): CatalogStore

  private val project = UUID.randomUUID()
  private val t0 = 1700000000000L

  private val schema = Schema(0, Seq(
    NestedField.required(1, "id", TInt),
    NestedField.required(2, "s", TString)))

  private def freshStore(): (CatalogStore, UUID) = {
    val store = newStore()
    val tmp = Files.createTempDirectory("graft-wh").toUri.toString.stripSuffix("/")
    val wh = store.createWarehouse(project, s"wh-${UUID.randomUUID()}", tmp)
      .fold(e => fail(e.message), identity)
    (store, wh.id)
  }

  private def createTable(
      store: CatalogStore, wh: UUID, ns: Seq[String], name: String,
      staged: Boolean = false): TableRecord =
    store.createTable(wh, ns, name, schema, UnboundPartitionSpec.Unpartitioned,
      None, Map.empty, stageCreate = staged, timestampMs = t0)
      .fold(e => fail(e.message), identity)

  private def snap(id: Long, seq: Long): Snapshot =
    Snapshot(id, None, seq, t0 + id, s"manifests/$id.avro",
      Map("operation" -> "append"), Some(0))

  // -------------------------------------------------- register (r11)
  test("register: adopts metadata verbatim; name and uuid conflicts 409") {
    val (store, wh) = freshStore()
    assert(store.createNamespace(wh, Seq("ns"), Map.empty).isRight)
    val src = createTable(store, wh, Seq("ns"), "src")
    assert(store.dropTable(wh, TableIdent(Seq("ns"), "src")).isRight)

    val reg = store.registerTable(wh, Seq("ns"), "adopted",
      src.metadata, src.metadataLocation.get).fold(e => fail(e.message), identity)
    assert(reg.tableId === src.tableId, "register keeps the original uuid")
    assert(reg.metadataLocation === src.metadataLocation,
      "register keeps the original metadata file")
    assert(reg.tableLocation === src.metadata.location)
    assert(store.loadTable(wh, TableIdent(Seq("ns"), "adopted")).isRight)

    // same NAME again → 409
    val other = createTable(store, wh, Seq("ns"), "other")
    assert(store.registerTable(wh, Seq("ns"), "adopted",
      other.metadata, other.metadataLocation.get).left.exists(_.code === 409))
    // same UUID under a new name → 409 (one metadata tree, one owner)
    assert(store.registerTable(wh, Seq("ns"), "twin",
      src.metadata, src.metadataLocation.get).left.exists(_.code === 409))
    // missing namespace → 404
    assert(store.registerTable(wh, Seq("ghost"), "g",
      src.metadata, src.metadataLocation.get).left.exists(_.code === 404))
  }

  // ----------------------------------------------- namespace lifecycle
  test("namespace lifecycle: create, get, list, exists, drop") {
    val (store, wh) = freshStore()
    assert(store.createNamespace(wh, Seq("ns1"), Map("owner" -> "alice")).isRight)
    assert(store.createNamespace(wh, Seq("ns2"), Map.empty).isRight)

    val got = store.getNamespace(wh, Seq("ns1")).fold(e => fail(e.message), identity)
    assert(got.properties === Map("owner" -> "alice"))
    assert(store.listNamespaces(wh, None) === Right(Seq(Seq("ns1"), Seq("ns2"))))
    assert(store.namespaceExists(wh, Seq("ns1")) === Right(true))
    assert(store.namespaceExists(wh, Seq("nope")) === Right(false))

    assert(store.dropNamespace(wh, Seq("ns2")).isRight)
    assert(store.namespaceExists(wh, Seq("ns2")) === Right(false))
    assert(store.dropNamespace(wh, Seq("ns2")).left.exists(_.code === 404))
    assert(store.getNamespace(wh, Seq("nope")).left.exists(_.code === 404))
  }

  test("namespace create: duplicates 409, reserved/deep/invalid-props 400") {
    val (store, wh) = freshStore()
    assert(store.createNamespace(wh, Seq("ns1"), Map.empty).isRight)
    assert(store.createNamespace(wh, Seq("ns1"), Map.empty).left.exists(_.code === 409))
    assert(store.createNamespace(wh, Seq("system"), Map.empty).left.exists(_.code === 400))
    assert(store.createNamespace(wh, Seq("examples"), Map.empty).left.exists(_.code === 400))
    assert(store.createNamespace(wh, Seq("a", "b"), Map.empty).left.exists(_.code === 400))
    assert(store.createNamespace(wh, Seq("x"), Map("UPPER" -> "v")).left.exists(_.code === 400))
    assert(store.createNamespace(wh, Seq("y"), Map("location" -> "s3://x"))
      .left.exists(_.code === 400))
  }

  test("cannot drop a non-empty namespace (409 NamespaceNotEmpty)") {
    val (store, wh) = freshStore()
    assert(store.createNamespace(wh, Seq("ns"), Map.empty).isRight)
    createTable(store, wh, Seq("ns"), "t")
    val err = store.dropNamespace(wh, Seq("ns")).left.getOrElse(fail("expected 409"))
    assert(err.code === 409)
    assert(err.errorType === "NamespaceNotEmpty")
    assert(store.dropTable(wh, TableIdent(Seq("ns"), "t")).isRight)
    assert(store.dropNamespace(wh, Seq("ns")).isRight)
  }

  test("namespace properties update is atomic and reports updated/removed/missing") {
    val (store, wh) = freshStore()
    assert(store.createNamespace(wh, Seq("ns"), Map("a" -> "1", "b" -> "2")).isRight)
    val r = store.updateNamespaceProperties(wh, Seq("ns"),
      removals = Seq("b", "ghost"), updates = Map("c" -> "3"))
      .fold(e => fail(e.message), identity)
    assert(r.updated === Seq("c"))
    assert(r.removed === Seq("b"))
    assert(r.missing === Seq("ghost"))
    val props = store.getNamespace(wh, Seq("ns"))
      .fold(e => fail(e.message), identity).properties
    assert(props === Map("a" -> "1", "c" -> "3"))
  }

  // ---------------------------------------------- warehouse gating
  test("inactive warehouse 404s every catalog operation") {
    val (store, wh) = freshStore()
    assert(store.createNamespace(wh, Seq("ns"), Map.empty).isRight)
    createTable(store, wh, Seq("ns"), "t")
    assert(store.setWarehouseActive(wh, active = false).isRight)

    assert(store.listNamespaces(wh, None).left.exists(_.code === 404))
    assert(store.getNamespace(wh, Seq("ns")).left.exists(_.code === 404))
    assert(store.loadTable(wh, TableIdent(Seq("ns"), "t")).left.exists(_.code === 404))
    assert(store.createNamespace(wh, Seq("ns2"), Map.empty).left.exists(_.code === 404))
    assert(store.commitTable(wh, TableIdent(Seq("ns"), "t"), Nil, Nil, t0)
      .left.exists(_.code === 404))

    assert(store.setWarehouseActive(wh, active = true).isRight)
    assert(store.loadTable(wh, TableIdent(Seq("ns"), "t")).isRight)
  }

  test("warehouse management: dup name 409, rename, list filters inactive") {
    val store = newStore()
    val w1 = store.createWarehouse(project, "prod", "file:///tmp/w1")
      .fold(e => fail(e.message), identity)
    assert(store.createWarehouse(project, "prod", "file:///tmp/w2")
      .left.exists(_.code === 409))
    assert(store.createWarehouse(project, "", "file:///tmp/w3").left.exists(_.code === 400))

    val w2 = store.createWarehouse(project, "dev", "file:///tmp/w2")
      .fold(e => fail(e.message), identity)
    assert(store.setWarehouseActive(w2.id, active = false).isRight)
    assert(store.listWarehouses(project).map(_.name) === Seq("prod"))
    assert(store.listWarehouses(project, includeInactive = true).map(_.name).sorted ===
      Seq("dev", "prod"))
    // get is active-only, like the reference
    assert(store.getWarehouse(w2.id).left.exists(_.code === 404))

    assert(store.renameWarehouse(w1.id, "prod2").map(_.name) === Right("prod2"))
    // name uniqueness holds against inactive warehouses too (DB unique
    // constraint in the reference is status-independent)
    assert(store.renameWarehouse(w1.id, "dev").left.exists(_.code === 409))
  }

  // ---------------------------------------------- stage-create matrix
  test("stage-create matrix: staged invisible, overwritable, finalized by commit") {
    val (store, wh) = freshStore()
    assert(store.createNamespace(wh, Seq("ns"), Map.empty).isRight)
    val ident = TableIdent(Seq("ns"), "t")

    // Stage-Create => load 404, exists false, list empty
    val staged = createTable(store, wh, Seq("ns"), "t", staged = true)
    assert(staged.staged)
    assert(store.loadTable(wh, ident).left.exists(_.code === 404))
    assert(store.tableExists(wh, ident) === Right(false))
    assert(store.listTables(wh, Seq("ns")) === Right(Nil))

    // staged row is overwritable by another stage-create (new uuid)
    val staged2 = createTable(store, wh, Seq("ns"), "t", staged = true)
    assert(staged2.tableId !== staged.tableId)

    // ... and by a plain create, which finalizes it
    val real = createTable(store, wh, Seq("ns"), "t")
    assert(!real.staged)
    assert(store.loadTable(wh, ident).isRight)
    assert(store.listTables(wh, Seq("ns")) === Right(Seq(ident)))

    // No Stage-Create => next create (either kind) 409s
    assert(store.createTable(wh, Seq("ns"), "t", schema,
      UnboundPartitionSpec.Unpartitioned, None, Map.empty,
      stageCreate = false, timestampMs = t0).left.exists(_.code === 409))
    assert(store.createTable(wh, Seq("ns"), "t", schema,
      UnboundPartitionSpec.Unpartitioned, None, Map.empty,
      stageCreate = true, timestampMs = t0).left.exists(_.code === 409))

    // drop removes; a staged table is droppable too
    assert(store.dropTable(wh, ident).isRight)
    val staged3 = createTable(store, wh, Seq("ns"), "s", staged = true)
    assert(staged3.staged)
    assert(store.dropTable(wh, TableIdent(Seq("ns"), "s")).isRight)
  }

  test("commit to a staged table finalizes it (CTAS completion)") {
    val (store, wh) = freshStore()
    assert(store.createNamespace(wh, Seq("ns"), Map.empty).isRight)
    val ident = TableIdent(Seq("ns"), "t")
    createTable(store, wh, Seq("ns"), "t", staged = true)

    val committed = store.commitTable(wh, ident,
      requirements = Nil,
      updates = Seq(
        TableUpdate.AddSnapshot(snap(1, 1)),
        TableUpdate.SetSnapshotRef("main", 1, SnapshotRefType.Branch)),
      timestampMs = t0 + 10).fold(e => fail(e.message), identity)
    assert(!committed.staged)
    assert(committed.metadata.currentSnapshotId === Some(1L))
    assert(store.loadTable(wh, ident).isRight)
    // the metadata file exists and round-trips
    val loc = committed.metadataLocation.get
    assert(MetadataIO.read(loc) === Right(committed.metadata))
  }

  // -------------------------------------------------- commit semantics
  test("commit: asserts run against current metadata; stale writer 409s") {
    val (store, wh) = freshStore()
    assert(store.createNamespace(wh, Seq("ns"), Map.empty).isRight)
    val ident = TableIdent(Seq("ns"), "t")
    createTable(store, wh, Seq("ns"), "t")

    // first append: require main ABSENT
    val c1 = store.commitTable(wh, ident,
      Seq(TableRequirement.AssertRefSnapshotId("main", None)),
      Seq(TableUpdate.AddSnapshot(snap(1, 1)),
        TableUpdate.SetSnapshotRef("main", 1, SnapshotRefType.Branch)),
      t0 + 1).fold(e => fail(e.message), identity)
    assert(c1.metadata.currentSnapshotId === Some(1L))

    // a second writer with the same stale requirement loses with 409
    val stale = store.commitTable(wh, ident,
      Seq(TableRequirement.AssertRefSnapshotId("main", None)),
      Seq(TableUpdate.AddSnapshot(snap(2, 2)),
        TableUpdate.SetSnapshotRef("main", 2, SnapshotRefType.Branch)),
      t0 + 2)
    assert(stale.left.exists(_.code === 409))
    // ... and nothing was mutated by the failed commit
    assert(store.loadTable(wh, ident).map(_.metadata.snapshots.keySet) ===
      Right(Set(1L)))

    // refreshed requirement wins
    val c2 = store.commitTable(wh, ident,
      Seq(TableRequirement.AssertRefSnapshotId("main", Some(1L))),
      Seq(TableUpdate.AddSnapshot(snap(2, 2)),
        TableUpdate.SetSnapshotRef("main", 2, SnapshotRefType.Branch)),
      t0 + 2).fold(e => fail(e.message), identity)
    assert(c2.metadata.currentSnapshotId === Some(2L))
    assert(c2.metadata.snapshotLog.map(_.snapshotId) === Seq(1L, 2L))
    // each commit produced a new metadata file; previous tracked in log
    assert(c2.metadata.metadataLog.size === 2)
  }

  test("commit: the metadata log keeps write.metadata.previous-versions-max entries") {
    val (store, wh) = freshStore()
    assert(store.createNamespace(wh, Seq("ns"), Map.empty).isRight)
    val ident = TableIdent(Seq("ns"), "t")
    val created = createTable(store, wh, Seq("ns"), "t")
    def commit(props: Map[String, String]): TableRecord =
      store.commitTable(wh, ident, Nil, Seq(TableUpdate.SetProperties(props)), t0)
        .fold(e => fail(e.message), identity)
    val locations = created.metadataLocation.get +:
      (1 to 105).map(i => commit(Map("n" -> i.toString)).metadataLocation.get)

    def log(): Seq[String] = store.loadTable(wh, ident)
      .fold(e => fail(e.message), _.metadata.metadataLog.map(_.metadataFile))
    // the default keeps the newest 100 of the 105 earlier versions
    assert(log() === locations.init.takeRight(100))
    // dropped entries keep their files
    assert(java.nio.file.Files.exists(MetadataIO.toPath(locations.head)))

    val capped = commit(Map(TableMetadata.PreviousVersionsMax -> "3"))
    assert(log() === locations.takeRight(3))
    commit(Map("n" -> "106"))
    assert(log() === (locations :+ capped.metadataLocation.get).takeRight(3))
  }

  test("commit guards: assign-uuid identity-only, set-location immutable") {
    val (store, wh) = freshStore()
    assert(store.createNamespace(wh, Seq("ns"), Map.empty).isRight)
    val ident = TableIdent(Seq("ns"), "t")
    val rec = createTable(store, wh, Seq("ns"), "t")

    assert(store.commitTable(wh, ident, Nil,
      Seq(TableUpdate.AssignUuid(UUID.randomUUID())), t0 + 1)
      .left.exists(_.code === 400))
    assert(store.commitTable(wh, ident, Nil,
      Seq(TableUpdate.SetLocation("file:///elsewhere")), t0 + 1)
      .left.exists(_.code === 400))
    // identity re-assignment and same-location are fine
    assert(store.commitTable(wh, ident, Nil,
      Seq(TableUpdate.AssignUuid(rec.metadata.tableUuid),
        TableUpdate.SetLocation(rec.metadata.location)), t0 + 1).isRight)
  }

  test("multi-table transaction is atomic: one failing assert rolls back all") {
    val (store, wh) = freshStore()
    assert(store.createNamespace(wh, Seq("ns"), Map.empty).isRight)
    createTable(store, wh, Seq("ns"), "a")
    createTable(store, wh, Seq("ns"), "b")
    val ia = TableIdent(Seq("ns"), "a")
    val ib = TableIdent(Seq("ns"), "b")

    val result = store.commitTransaction(wh, Seq(
      TableChange(ia, Nil, Seq(TableUpdate.SetProperties(Map("k" -> "v")))),
      TableChange(ib,
        Seq(TableRequirement.AssertRefSnapshotId("main", Some(99L))), // fails
        Seq(TableUpdate.SetProperties(Map("k" -> "v"))))), t0 + 1)
    assert(result.left.exists(_.code === 409))
    // table a was NOT updated — atomicity
    assert(store.loadTable(wh, ia).map(_.metadata.properties) === Right(Map.empty))

    val ok = store.commitTransaction(wh, Seq(
      TableChange(ia, Nil, Seq(TableUpdate.SetProperties(Map("k" -> "v")))),
      TableChange(ib, Nil, Seq(TableUpdate.SetProperties(Map("k" -> "w"))))), t0 + 2)
    assert(ok.isRight)
    assert(store.loadTable(wh, ia).map(_.metadata.properties("k")) === Right("v"))
    assert(store.loadTable(wh, ib).map(_.metadata.properties("k")) === Right("w"))
  }

  test("rename: same-namespace, cross-namespace, and conflict cases") {
    val (store, wh) = freshStore()
    assert(store.createNamespace(wh, Seq("a"), Map.empty).isRight)
    assert(store.createNamespace(wh, Seq("b"), Map.empty).isRight)
    createTable(store, wh, Seq("a"), "t")

    // same-ns rename
    assert(store.renameTable(wh, TableIdent(Seq("a"), "t"), TableIdent(Seq("a"), "t2")).isRight)
    assert(store.tableExists(wh, TableIdent(Seq("a"), "t")) === Right(false))
    // cross-ns rename
    assert(store.renameTable(wh, TableIdent(Seq("a"), "t2"), TableIdent(Seq("b"), "t3")).isRight)
    assert(store.loadTable(wh, TableIdent(Seq("b"), "t3")).isRight)
    // missing source 404
    assert(store.renameTable(wh, TableIdent(Seq("a"), "ghost"), TableIdent(Seq("a"), "x"))
      .left.exists(_.code === 404))
    // missing dest namespace 404
    assert(store.renameTable(wh, TableIdent(Seq("b"), "t3"), TableIdent(Seq("c"), "x"))
      .left.exists(_.code === 404))
    // dest exists 409
    createTable(store, wh, Seq("a"), "occupied")
    assert(store.renameTable(wh, TableIdent(Seq("b"), "t3"), TableIdent(Seq("a"), "occupied"))
      .left.exists(_.code === 409))
  }

  test("create table binds the partition spec and writes metadata file") {
    val (store, wh) = freshStore()
    assert(store.createNamespace(wh, Seq("ns"), Map.empty).isRight)
    val spec = UnboundPartitionSpec(None, Seq(
      UnboundPartitionField(1, None, "id_bucket", Transform.Bucket(16))))
    val rec = store.createTable(wh, Seq("ns"), "t", schema, spec, None,
      Map("owner" -> "bob"), stageCreate = false, timestampMs = t0)
      .fold(e => fail(e.message), identity)
    assert(rec.metadata.defaultSpec.fields.map(_.fieldId) === Seq(1000))
    assert(rec.metadata.properties === Map("owner" -> "bob"))
    assert(rec.metadata.location.endsWith(rec.tableId.toString))
    assert(MetadataIO.read(rec.metadataLocation.get) === Right(rec.metadata))
    // bad spec → 400, nothing created
    val bad = UnboundPartitionSpec(None, Seq(
      UnboundPartitionField(99, None, "ghost", Transform.Identity)))
    assert(store.createTable(wh, Seq("ns"), "t2", schema, bad, None, Map.empty,
      stageCreate = false, timestampMs = t0).left.exists(_.code === 400))
    assert(store.tableExists(wh, TableIdent(Seq("ns"), "t2")) === Right(false))
  }

  // ------------------------------------------------------ views (r12)
  private def viewVersion(sql: String): ViewVersion =
    ViewVersion(1, t0, 0, Map("operation" -> "create"),
      Seq(ViewRepresentation("spark", sql)), Some("cat"), Seq("ns"))

  test("view lifecycle: create, load, list, exists, rename, drop") {
    val (store, wh) = freshStore()
    assert(store.createNamespace(wh, Seq("ns"), Map.empty).isRight)
    val rec = store.createView(wh, Seq("ns"), "v", schema,
      viewVersion("SELECT 1"), Map("team" -> "data"), t0)
      .fold(e => fail(e.message), identity)
    assert(rec.metadata.currentVersionId === 1)
    assert(rec.metadata.currentVersion.summary("operation") === "create")
    assert(store.loadView(wh, TableIdent(Seq("ns"), "v")).map(_.viewId) ===
      Right(rec.viewId))
    assert(store.listViews(wh, Seq("ns")) ===
      Right(Seq(TableIdent(Seq("ns"), "v"))))
    assert(store.viewExists(wh, TableIdent(Seq("ns"), "v")) === Right(true))
    assert(store.renameView(wh, TableIdent(Seq("ns"), "v"),
      TableIdent(Seq("ns"), "v2")).isRight)
    assert(store.viewExists(wh, TableIdent(Seq("ns"), "v")) === Right(false))
    assert(store.dropView(wh, TableIdent(Seq("ns"), "v2")).isRight)
    assert(store.dropView(wh, TableIdent(Seq("ns"), "v2")).left.exists(_.code === 404))
  }

  test("view commit: uuid CAS, add-version/-1 sentinels, history append") {
    val (store, wh) = freshStore()
    assert(store.createNamespace(wh, Seq("ns"), Map.empty).isRight)
    val rec = store.createView(wh, Seq("ns"), "v", schema,
      viewVersion("SELECT 1"), Map.empty, t0).fold(e => fail(e.message), identity)
    val id = TableIdent(Seq("ns"), "v")

    // stale uuid loses with 409 INSIDE the commit
    assert(store.commitView(wh, id,
      Seq(ViewRequirement.AssertViewUuid(UUID.randomUUID())),
      Seq(ViewUpdate.SetProperties(Map("a" -> "b"))), t0 + 1)
      .left.exists(_.code === 409))

    // replace: add-schema + add-view-version(-1) + set-current(-1)
    val schema2 = Schema(0, Seq(NestedField.required(1, "id", TInt)))
    val out = store.commitView(wh, id,
      Seq(ViewRequirement.AssertViewUuid(rec.metadata.viewUuid)),
      Seq(ViewUpdate.AddSchema(schema2),
        ViewUpdate.AddViewVersion(ViewVersion(0, 0, -1,
          Map("operation" -> "replace"),
          Seq(ViewRepresentation("spark", "SELECT 2")), Some("cat"), Seq("ns"))),
        ViewUpdate.SetCurrentViewVersion(-1)), t0 + 2)
      .fold(e => fail(e.message), identity)
    assert(out.metadata.currentVersionId === 2)
    assert(out.metadata.versions(2).representations.head.sql === "SELECT 2")
    assert(out.metadata.versionLog.map(_.versionId) === Seq(1, 2))
    assert(out.metadata.schemas.size === 2)
    // new metadata mirror written at a NEW location
    assert(out.metadataLocation !== rec.metadataLocation)

    // set-current to a MISSING version is a validation error
    assert(store.commitView(wh, id, Nil,
      Seq(ViewUpdate.SetCurrentViewVersion(99)), t0 + 3)
      .left.exists(_.code === 400))
  }

  test("views and tables share the name space; drops guard the namespace") {
    val (store, wh) = freshStore()
    assert(store.createNamespace(wh, Seq("ns"), Map.empty).isRight)
    createTable(store, wh, Seq("ns"), "t")
    // a view cannot shadow a table, nor a table a view
    assert(store.createView(wh, Seq("ns"), "t", schema,
      viewVersion("SELECT 1"), Map.empty, t0).left.exists(_.code === 409))
    assert(store.createView(wh, Seq("ns"), "v", schema,
      viewVersion("SELECT 1"), Map.empty, t0).isRight)
    assert(store.createTable(wh, Seq("ns"), "v", schema,
      UnboundPartitionSpec.Unpartitioned, None, Map.empty,
      stageCreate = false, timestampMs = t0).left.exists(_.code === 409))
    // rename onto either kind conflicts
    createTable(store, wh, Seq("ns"), "t2")
    assert(store.renameTable(wh, TableIdent(Seq("ns"), "t2"),
      TableIdent(Seq("ns"), "v")).left.exists(_.code === 409))
    assert(store.renameView(wh, TableIdent(Seq("ns"), "v"),
      TableIdent(Seq("ns"), "t")).left.exists(_.code === 409))
    // namespace with only a view left is still non-empty
    assert(store.dropTable(wh, TableIdent(Seq("ns"), "t")).isRight)
    assert(store.dropTable(wh, TableIdent(Seq("ns"), "t2")).isRight)
    assert(store.dropNamespace(wh, Seq("ns")).left.exists(_.code === 409))
    assert(store.dropView(wh, TableIdent(Seq("ns"), "v")).isRight)
    assert(store.dropNamespace(wh, Seq("ns")).isRight)
  }
}

/** The contract run against the in-memory dev/test store. */
class CatalogStoreSpec extends CatalogStoreContract {
  protected def newStore(): CatalogStore = new InMemoryCatalogStore
}
